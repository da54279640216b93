"""Independent Python oracle for the 8 Phabricator output tables.

Reimplements the reference's per-row semantics (stats.py / transforms.py)
directly over collected fixture rows — deliberately row-at-a-time and simple,
so it is an independent cross-check of the set-oriented Spark pipelines, not
a copy of either implementation.

Where the engine makes a documented deterministic choice the reference
leaves arbitrary (SURVEY.md §7.8/7.9), the oracle mirrors the engine's
choice: min(uri) for multi-URI repos, sorted project tags, member lists
sorted by phid, id-desc tiebreak for last_review_id.
"""

from __future__ import annotations

import json
from collections import defaultdict

BUG_FIELD = "zdMFYM6423ua"
STATE_CHANGE_TYPES = {
    "differential.revision.abandon", "differential.revision.accept",
    "differential.revision.close", "differential.revision.commandeer",
    "differential.revision.reclaim", "differential.revision.reject",
    "differential.revision.reopen", "differential.revision.request",
    "differential.revision.resign", "differential.revision.reviewers",
    "differential.revision.status", "differential.revision.void",
    "differential.revision.wrong",
}
PROJECT_TXN_TYPES = {"core:create", "core:edge", "project:name"}


class Oracle:
    def __init__(self, rows: dict[str, list]):
        self.r = rows
        self.user_name = {u["phid"]: u["userName"] for u in rows["user"]}
        self.user_email = {}  # the engine's MIN(address) over a user's primary emails
        for e in rows["user_email"]:
            if e["isPrimary"] == 1 and e["address"] is not None:
                prev = self.user_email.get(e["userPHID"])
                self.user_email[e["userPHID"]] = e["address"] if prev is None else min(prev, e["address"])
        self.proj_by_phid = {p["phid"]: p for p in rows["project"]}
        self.repo_by_phid = {p["phid"]: p for p in rows["repository"]}
        self.repo_uri = defaultdict(list)
        for u in rows["repository_uri"]:
            self.repo_uri[u["repositoryPHID"]].append(u["uri"])
        self.bug_by_rev_phid = {}
        for c in rows["customfieldstorage"]:
            if c["fieldIndex"] == BUG_FIELD:
                self.bug_by_rev_phid[c["objectPHID"]] = c["fieldValue"] or None
        self.diff_id_by_phid = {d["phid"]: d["id"] for d in rows["diff"]}
        self.diffs_by_rev = defaultdict(list)
        for d in rows["diff"]:
            self.diffs_by_rev[d["revisionID"]].append(d)
        self.cs_by_diff = defaultdict(list)
        self.cs_by_id = {}
        for c in rows["changeset"]:
            self.cs_by_diff[c["diffID"]].append(c)
            self.cs_by_id[c["id"]] = c
        self.reviewers_by_rev = defaultdict(list)
        for rv in rows["reviewer"]:
            self.reviewers_by_rev[rv["revisionPHID"]].append(rv)

    # --- scalar helpers (transforms.py parity) ---

    @staticmethod
    def include_diff(d) -> bool:
        if d["creationMethod"] == "commit":
            return False
        if (d["authorPHID"] or "").startswith("PHID-RIDT-"):
            return False
        return True

    @staticmethod
    def to_string_list(v) -> list[str]:
        if isinstance(v, bool):
            return [str(int(v))]
        return [str(v)]

    def resolve_name(self, phid) -> str | None:
        if phid is None:
            return None
        if phid.startswith("PHID-PROJ-"):
            p = self.proj_by_phid.get(phid)
            return p["name"] if p else None
        return self.user_name.get(phid)

    def reviewers_json_names(self, value) -> list[str]:
        try:
            parsed = json.loads(value)
        except (TypeError, json.JSONDecodeError):
            return []
        if not isinstance(parsed, dict):
            return []
        names = [self.resolve_name(phid) for phid in parsed.keys()]
        return [n for n in names if n is not None]

    @staticmethod
    def parse_member_phids(value) -> set[str]:
        if not value:
            return set()
        try:
            parsed = json.loads(value)
        except (TypeError, json.JSONDecodeError):
            return set()
        if isinstance(parsed, dict):
            return {k for k in parsed if isinstance(k, str)}
        if isinstance(parsed, list):
            return {x for x in parsed if isinstance(x, str)}
        return set()

    @staticmethod
    def decode_name_value(value) -> list[str]:
        if not value:
            return []
        try:
            parsed = json.loads(value)
        except (TypeError, json.JSONDecodeError):
            return []
        return [parsed] if isinstance(parsed, str) else []

    @staticmethod
    def is_membership_edge(metadata) -> bool:
        if not metadata:
            return False
        try:
            parsed = json.loads(metadata)
        except (TypeError, json.JSONDecodeError):
            return False
        if not isinstance(parsed, dict):
            return False
        try:
            return int(parsed.get("edge:type")) == 13
        except (TypeError, ValueError):
            return False

    # --- output tables ---

    def diffs(self):
        out = []
        for rev in self.r["revision"]:
            for d in self.diffs_by_rev[rev["id"]]:
                if not self.include_diff(d):
                    continue
                out.append((
                    d["creationMethod"], d["id"], rev["id"], d["dateCreated"],
                    self.user_email.get(d["authorPHID"]), self.user_name.get(d["authorPHID"]),
                ))
        return out

    def changesets(self):
        out = []
        for rev in self.r["revision"]:
            for d in self.diffs_by_rev[rev["id"]]:
                if not self.include_diff(d):
                    continue
                for c in self.cs_by_diff[d["id"]]:
                    out.append((rev["id"], d["id"], c["id"], c["addLines"], c["delLines"], c["filename"]))
        return out

    def comments(self):
        out = set()
        txns_by_rev = defaultdict(list)
        for t in self.r["differential_transaction"]:
            txns_by_rev[t["objectPHID"]].append(t)
        comments = self.r["transaction_comment"]
        for rev in self.r["revision"]:
            cphids = {
                t["commentPHID"] for t in txns_by_rev[rev["phid"]]
                if t["transactionType"] == "core:comment" and t["commentPHID"]
            }
            for c in comments:
                if c["revisionPHID"] == rev["phid"] or c["phid"] in cphids:
                    diff_id = None
                    if c["changesetID"] is not None:
                        cs = self.cs_by_id.get(c["changesetID"])
                        diff_id = cs["diffID"] if cs else None
                    attrs = json.loads(c["attributes"])
                    sugg = (
                        "inline.state.initial" in attrs
                        and attrs["inline.state.initial"].get("hassuggestion") == "true"
                    )
                    out.add((
                        rev["id"], diff_id, c["changesetID"], c["id"],
                        self.user_email.get(c["authorPHID"]), self.user_name.get(c["authorPHID"]),
                        c["dateCreated"], len(c["content"]), sugg,
                    ))
        return out

    def transactions(self):
        out = []
        for rev in self.r["revision"]:
            for t in self.r["differential_transaction"]:
                if t["objectPHID"] != rev["phid"] or t["transactionType"] not in STATE_CHANGE_TYPES:
                    continue
                if t["transactionType"] == "differential.revision.reviewers":
                    old = self.reviewers_json_names(t["oldValue"])
                    new = self.reviewers_json_names(t["newValue"])
                else:
                    old = self.to_string_list(t["oldValue"])
                    new = self.to_string_list(t["newValue"])
                out.append((
                    rev["id"], t["id"], t["transactionType"],
                    self.user_email.get(t["authorPHID"]), self.user_name.get(t["authorPHID"]),
                    t["dateCreated"], tuple(old), tuple(new),
                ))
        return out

    def review_requests(self):
        out = []
        for rev in self.r["revision"]:
            for rv in self.reviewers_by_rev[rev["phid"]]:
                is_group = rv["reviewerPHID"].startswith("PHID-PROJ-")
                if is_group:
                    uname = self.resolve_name(rv["reviewerPHID"])
                    email = None
                else:
                    uname = self.user_name.get(rv["reviewerPHID"])
                    email = self.user_email.get(rv["reviewerPHID"])
                out.append((
                    rev["id"], rv["id"], uname, email, is_group,
                    rv["dateCreated"], rv["dateModified"], rv["reviewerStatus"],
                    self.diff_id_by_phid.get(rv["lastActionDiffPHID"]),
                    self.diff_id_by_phid.get(rv["lastCommentDiffPHID"]),
                ))
        return out

    def stack_size(self, rev) -> int:
        bug = self.bug_by_rev_phid.get(rev["phid"])
        if not bug:
            return 1
        rev_by_phid = {r["phid"]: r for r in self.r["revision"]}
        edges = [e for e in self.r["diff_edge"] if e["type"] in (5, 6)]
        stack, frontier = set(), {rev["phid"]}
        while frontier:
            matching = []
            for e in edges:
                if e["src"] in frontier or e["dst"] in frontier:
                    for node in (e["src"], e["dst"]):
                        nr = rev_by_phid.get(node)
                        if nr and self.bug_by_rev_phid.get(node) == bug:
                            matching.append(node)
            stack.update(frontier)
            frontier = set(matching) - stack
        return len(stack)

    def revisions(self):
        out = []
        slug = {p["phid"]: p["primarySlug"] for p in self.r["project"]}
        tag_edges = defaultdict(set)
        for e in self.r["diff_edge"]:
            if e["type"] == 41 and e["dst"] in slug:
                tag_edges[e["src"]].add(slug[e["dst"]])
        for rev in self.r["revision"]:
            all_diffs = self.diffs_by_rev[rev["id"]]
            commit_dates = [d["dateCreated"] for d in all_diffs if d["creationMethod"] == "commit"]
            date_landed = max(commit_dates) if commit_dates else None
            accepted = [
                r["dateModified"] for r in self.reviewers_by_rev[rev["phid"]]
                if r["reviewerStatus"] == "accepted" and r["dateModified"] is not None
            ]
            date_approved = max(accepted) if accepted else None
            reviews = self.reviewers_by_rev[rev["phid"]]
            # (dateModified, id)-max with a NULL dateModified lowest
            last_review_id = (
                max(reviews, key=lambda r: (r["dateModified"] is not None, r["dateModified"] or 0, r["id"]))["id"]
                if reviews else None
            )
            repo = self.repo_by_phid.get(rev["repositoryPHID"])
            details = json.loads(repo["details"]) if repo and repo["details"] else {}
            uris = self.repo_uri.get(rev["repositoryPHID"], [])
            out.append((
                self.bug_by_rev_phid.get(rev["phid"]),
                rev["id"],
                date_approved if date_landed else None,
                rev["dateCreated"], rev["dateModified"], date_landed,
                last_review_id, rev["status"],
                min(uris) if uris else None,
                repo["name"] if repo else None,
                details.get("default-branch"),
                self.stack_size(rev),
                tuple(sorted(tag_edges.get(rev["phid"], set()))),
            ))
        return out

    def review_groups(self):
        out = []
        member_edges = defaultdict(set)
        for e in self.r["project_edge"]:
            if e["type"] == 13:
                member_edges[e["src"]].add(e["dst"])
        for p in self.r["project"]:
            if p["name"].startswith("bmo-"):
                continue
            phids = sorted(member_edges.get(p["phid"], set()))
            out.append((
                p["id"], p["name"],
                tuple(self.user_name.get(m) for m in phids),
                tuple(self.user_email.get(m) for m in phids),
            ))
        return out

    def project_transactions(self):
        out = []
        for t in self.r["project_transaction"]:
            if t["transactionType"] not in PROJECT_TXN_TYPES:
                continue
            proj = self.proj_by_phid.get(t["objectPHID"])
            if t["transactionType"] == "core:edge":
                if not self.is_membership_edge(t["metadata"]):
                    continue
                old_p = self.parse_member_phids(t["oldValue"])
                new_p = self.parse_member_phids(t["newValue"])
                old = sorted({self.user_name[p] for p in old_p - new_p if p in self.user_name})
                new = sorted({self.user_name[p] for p in new_p - old_p if p in self.user_name})
            elif t["transactionType"] == "project:name":
                old = self.decode_name_value(t["oldValue"])
                new = self.decode_name_value(t["newValue"])
            else:
                old = []
                new = [proj["name"]] if proj else []
            out.append((
                proj["id"] if proj else None,
                proj["name"] if proj else None,
                t["id"],
                self.user_email.get(t["authorPHID"]), self.user_name.get(t["authorPHID"]),
                t["dateCreated"], t["transactionType"], tuple(old), tuple(new),
            ))
        return out
