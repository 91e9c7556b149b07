"""Seeded GitHub raw-zone generator with its ground truth.

Emits the reference's JSON-array raw files (``repos_raw.json``,
``issues_raw.json``, ``branches_raw.json``) covering every field of the
pipeline's ``*_RAW_SCHEMA`` structs, with planted dirty rows:

- duplicate ids whose later copy carries a different payload (keep-last);
- null owner / user logins (dropped by the cleaners);
- orphan ``repo_name``s (dropped by the FK resolution);
- malformed timestamps (parsed to NULL; a NULL repo or issue
  ``created_at`` then fails the DDL NOT NULL expectation);
- duplicate ``(repo_name, name)`` branch pairs (keep-last);
- non-hex commit shas (fail the DDL hex CHECK).

It also splits the same org into a base file plus a sequence of repos
deltas carrying new, changed and replayed rows.

The truth is computed here in plain Python from the reference semantics
(keep-last per key in file order, FK resolution by repo name, users as
authors union assignees), independent of the Spark code it checks.
"""

from __future__ import annotations

import datetime
import json
import random
from pathlib import Path

MALFORMED_TS = ("not-a-timestamp", "2021/13/45 25:61", "yesterday")
OWNER_LOGINS = ("graft-org", "graft-labs")
LANGS = ("Python", "Scala", "Java", "Go", "Rust", None)
TOPICS = ("etl", "spark", "data", "pipeline", "github", "parquet", "sql")
LABELS = ("bug", "enhancement", "docs", "question", "perf")


EPOCH_2020 = 1_577_836_800


def _ts(rng: random.Random) -> tuple[str, int]:
    t = EPOCH_2020 + rng.randrange(0, 900 * 86400)
    return _fmt(t), t


def _fmt(t: int) -> str:
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _later(rng: random.Random, t: int) -> str:
    return _fmt(t + 1 + rng.randrange(0, 200 * 86400))


def _sha(rng: random.Random) -> str:
    return f"{rng.getrandbits(160):040x}"


def _skewed_counts(rng: random.Random, n: int, total: int) -> list[int]:
    """``n`` counts summing to ``total`` with a fixed Zipf-like shape (a
    few large, many small); the seed only decides which slot gets which
    count, so totals do not vary with the seed."""
    w = [1.0 / (r + 1) ** 0.8 for r in range(n)]
    scale = total / sum(w)
    counts = [int(x * scale) for x in w]
    for r in range(total - sum(counts)):
        counts[r % n] += 1
    rng.shuffle(counts)
    return counts


def make_org(seed: int, n_repos: int, issues_per_repo: int, branches_per_repo: int) -> dict:
    """One organisation's raw rows with dirt planted:
    ``{"repos": [...], "issues": [...], "branches": [...]}``.

    ``repos`` holds exactly one row per repo id; duplicate-id repo rows
    are planted when the repos files are landed
    (:func:`repos_landing`, :func:`repos_deltas`).
    """
    rng = random.Random(seed)
    repos, issues, branches = [], [], []
    users = [(10_000 + i, f"user{i:04d}") for i in range(max(20, n_repos // 2))]
    n_branches = _skewed_counts(rng, n_repos, n_repos * (branches_per_repo - 1))
    n_issues = _skewed_counts(rng, n_repos, n_repos * issues_per_repo)
    for r in range(n_repos):
        owner = OWNER_LOGINS[0] if rng.random() < 0.9 else OWNER_LOGINS[1]
        name = f"repo-{r:05d}"
        created, ck = _ts(rng)
        vis = rng.choice(("public", "public", "private", "internal"))
        row = {
            "id": 1_000_000 + r,
            "name": name,
            "full_name": f"{owner}/{name}",
            "description": None if rng.random() < 0.2 else f"project {name} for {rng.choice(TOPICS)}",
            "topics": None if rng.random() < 0.05 else rng.sample(TOPICS, rng.randrange(0, 3)),
            "language": rng.choice(LANGS),
            "owner": {"id": 500 + OWNER_LOGINS.index(owner), "login": owner},
            "visibility": vis,
            "private": vis == "private",
            "disabled": rng.random() < 0.02,
            "fork": rng.random() < 0.1,
            "archived": rng.random() < 0.1,
            "default_branch": "main",
            "stargazers_count": rng.randrange(0, 5000),
            "watchers_count": rng.randrange(0, 500),
            "forks_count": rng.randrange(0, 300),
            "forks": rng.randrange(0, 300),
            "open_issues_count": rng.randrange(0, 80),
            "created_at": created,
            "updated_at": None if rng.random() < 0.05 else _later(rng, ck),
            "pushed_at": None if rng.random() < 0.05 else _later(rng, ck),
        }
        u = rng.random()
        if u < 0.01:
            row["owner"] = {"id": row["owner"]["id"], "login": None}  # dropped at clean
        elif u < 0.02:
            row["created_at"] = rng.choice(MALFORMED_TS)  # fails NOT NULL
        elif u < 0.05:
            row["updated_at"] = rng.choice(MALFORMED_TS)  # parses to NULL, kept
        repos.append(row)

        for b in range(1 + n_branches[r]):
            sha = _sha(rng)
            if rng.random() < 0.005:
                sha = "zz" + sha[2:]  # fails the hex CHECK
            branches.append({
                "name": None if rng.random() < 0.005 else ("main" if b == 0 else f"feature-{b}"),
                "protected": b == 0 or rng.random() < 0.05,
                "repo_name": name,
                "commit": {"sha": sha, "url": f"https://api.github.com/repos/{owner}/{name}/commits/{sha}"},
            })
            if rng.random() < 0.02:  # duplicate (repo_name, name), later copy wins
                dup = json.loads(json.dumps(branches[-1]))
                dup["protected"] = not dup["protected"]
                dup["commit"]["sha"] = _sha(rng)
                branches.append(dup)

        for n in range(n_issues[r]):
            created_i, cik = _ts(rng)
            closed = rng.random() < 0.4
            author = rng.choice(users)
            assignee = rng.choice(users) if rng.random() < 0.4 else None
            issue = {
                "id": 50_000_000 + len(issues),
                "repo_name": name,
                "number": n + 1,
                "user": {"id": author[0], "login": None if rng.random() < 0.01 else author[1]},
                "title": f"Issue {n + 1}: \"{rng.choice(TOPICS)}\", fix,\nnow",
                "state": "closed" if closed else "open",
                "locked": rng.random() < 0.05,
                "comments": rng.randrange(0, 40),
                "pull_request": {"merged_at": _later(rng, cik) if closed else None} if rng.random() < 0.3 else None,
                "created_at": created_i,
                "updated_at": _later(rng, cik),
                "closed_at": _later(rng, cik) if closed else None,
                "labels": [{"name": x} for x in rng.sample(LABELS, rng.randrange(0, 3))],
                "assignee": None if assignee is None else {"id": assignee[0], "login": assignee[1]},
            }
            v = rng.random()
            if v < 0.01:
                issue["created_at"] = rng.choice(MALFORMED_TS)  # fails NOT NULL
            elif v < 0.03:
                issue["closed_at"] = rng.choice(MALFORMED_TS)  # parses to NULL, kept
            issues.append(issue)
            if rng.random() < 0.02:  # duplicate id, later copy wins
                dup = dict(issue, comments=issue["comments"] + 1, locked=not issue["locked"])
                issues.append(dup)

    for o in range(max(1, len(branches) // 50)):  # orphans: repo never landed
        branches.append({
            "name": "main", "protected": False, "repo_name": f"ghost-{o}",
            "commit": {"sha": _sha(rng), "url": None},
        })
    for o in range(max(1, len(issues) // 50)):
        a = rng.choice(users)
        issues.append({
            "id": 90_000_000 + o, "repo_name": f"ghost-{o}", "number": 1,
            "user": {"id": a[0], "login": a[1]}, "title": "orphan", "state": "open",
            "locked": False, "comments": 0, "pull_request": None,
            "created_at": "2021-01-01T00:00:00Z", "updated_at": "2021-01-02T00:00:00Z",
            "closed_at": None, "labels": [], "assignee": None,
        })
    return {"repos": repos, "issues": issues, "branches": branches}


def _changed(rng: random.Random, row: dict) -> dict:
    new = json.loads(json.dumps(row))
    new["stargazers_count"] = row["stargazers_count"] + 1 + rng.randrange(0, 50)
    new["description"] = f"changed {rng.randrange(0, 10**6)}"
    return new


def repos_landing(seed: int, repos: list[dict]) -> list[dict]:
    """The full-load repos file: every repo, plus duplicate ids whose
    later copy differs (2%)."""
    rng = random.Random(seed + 1)
    out = []
    for row in repos:
        out.append(row)
        if rng.random() < 0.02:
            out.append(_changed(rng, row))
    return out


def repos_deltas(seed: int, repos: list[dict], n_deltas: int, delta_frac: float) -> list[list[dict]]:
    """Split repos into a base file and ``n_deltas`` delta files. Each
    delta lands ``delta_frac`` of all repos as new repos, changes that
    share of the landed repos and replays half that share of landed rows
    verbatim; the base holds every repo no delta lands."""
    rng = random.Random(seed + 2)
    per = max(1, round(len(repos) * delta_frac))
    n_base = len(repos) - per * n_deltas
    if n_base < 1:
        raise ValueError(f"{n_deltas} deltas of {per} new repos leave no base out of {len(repos)}")
    files = [list(repos[:n_base])]
    latest = {r["id"]: r for r in files[0]}
    for d in range(n_deltas):
        new = repos[n_base + d * per: n_base + (d + 1) * per]
        landed = sorted(latest)
        delta = []
        for rid in rng.sample(landed, max(1, round(len(landed) * delta_frac))):
            delta.append(_changed(rng, latest[rid]))
        for rid in rng.sample(landed, max(1, round(len(landed) * delta_frac / 2))):
            delta.append(latest[rid])
        delta.extend(new)
        rng.shuffle(delta)
        for row in delta:
            latest[row["id"]] = row
        files.append(delta)
    return files


# ---------------------------------------------------------------------------
# Ground truth: the reference cleaning semantics in plain Python
# ---------------------------------------------------------------------------


def _ts_ok(s) -> bool:
    return s is not None and s not in MALFORMED_TS


def clean_truth(repo_rows: list[dict], issue_rows: list[dict], branch_rows: list[dict]) -> dict:
    """Expected clean tables (pre-expectations) keyed by natural key,
    plus the raw-side counts the audit lines report."""
    repos = {}
    for r in repo_rows:
        if r["id"] is None or r["owner"]["id"] is None or r["owner"]["login"] is None:
            continue
        repos.pop(r["id"], None)
        repos[r["id"]] = r
    by_name = {r["name"]: r for r in repos.values()}
    owners = {r["owner"]["login"] for r in repos.values()}

    branches = {}
    for b in branch_rows:
        if b["name"] is None:
            continue
        branches[(b["repo_name"], b["name"])] = b
    b_orph = sum(1 for k in branches if k[0] not in by_name)
    branches = {k: b for k, b in branches.items() if k[0] in by_name}

    issues = {}
    for i in issue_rows:
        if i["id"] is None or i["repo_name"] is None or i["user"]["login"] is None or i["user"]["id"] is None:
            continue
        issues[i["id"]] = i
    i_orph = sum(1 for i in issues.values() if i["repo_name"] not in by_name)
    issues = {k: i for k, i in issues.items() if i["repo_name"] in by_name}
    users = {i["user"]["login"] for i in issues.values()} | {
        i["assignee"]["login"] for i in issues.values() if i["assignee"] and i["assignee"]["login"]
    }
    return {
        "repos": repos, "owners": owners, "branches": branches, "issues": issues, "users": users,
        "b_pre": len(branch_rows), "b_orph": b_orph, "i_pre": len(issue_rows), "i_orph": i_orph,
    }


def enforce_truth(t: dict) -> dict:
    """Row counts after the DDL expectations, applied in FK order
    (owners, users, repos, issues, branches)."""
    repos = {r["name"] for r in t["repos"].values() if _ts_ok(r["created_at"])}
    issues = [i for i in t["issues"].values() if _ts_ok(i["created_at"]) and i["repo_name"] in repos]
    branches = [
        b for (rn, _), b in t["branches"].items()
        if rn in repos and all(c in "0123456789abcdefABCDEF" for c in b["commit"]["sha"])
    ]
    return {
        "owners_clean": len(t["owners"]), "users_clean": len(t["users"]),
        "repos_clean": len(repos), "issues_clean": len(issues), "branches_clean": len(branches),
    }


def audit_lines(t: dict) -> list[str]:
    """The audit lines ``GithubPipelineResult.emit_audit`` must write."""
    n_repos, n_owners = len(t["repos"]), len(t["owners"])
    n_br, n_is = len(t["branches"]), len(t["issues"])
    out = [f"REPOS - Complete | {n_repos} rows loaded."]
    if n_repos != n_owners:
        out.append(f"OWNERS | {n_repos - n_owners} dropped during cleaning.")
    out.append(f"OWNERS - Complete | {n_owners} rows loaded.")
    if t["b_pre"] - t["b_orph"] - n_br:
        out.append(f"BRANCHES | {t['b_pre'] - t['b_orph'] - n_br} dropped during cleaning.")
    out.append(f"BRANCHES - Complete | {n_br} rows loaded.")
    if t["i_pre"] - t["i_orph"] - n_is:
        out.append(f"ISSUES | {t['i_pre'] - t['i_orph'] - n_is} dropped during cleaning.")
    if t["i_orph"]:
        out.append(f"ISSUES | {t['i_orph']} rows with missing repo_id (FK Enforcement).")
    out.append(f"ISSUES - Complete | {n_is} rows loaded.")
    out.append(f"USERS - Complete | {len(t['users'])} rows loaded.")
    return out


def _dump(path: Path, rows: list[dict]) -> int:
    data = json.dumps(rows)
    path.write_text(data, encoding="utf-8")
    return len(data.encode("utf-8"))


def write_full_load(raw_dir: Path, seed: int, org: dict) -> dict:
    """Land the full-load raw zone: ``{"repos": rows, "raw_bytes": n}``."""
    raw_dir.mkdir(parents=True, exist_ok=True)
    repos = repos_landing(seed, org["repos"])
    nbytes = _dump(raw_dir / "repos_raw.json", repos)
    nbytes += _dump(raw_dir / "issues_raw.json", org["issues"])
    nbytes += _dump(raw_dir / "branches_raw.json", org["branches"])
    return {"repos": repos, "raw_bytes": nbytes}


def full_load_truth(raw_dir: Path, org: dict, landed: dict) -> dict:
    """The truth of a landed full-load raw zone, written beside it as
    ``truth.json`` and returned."""
    repos = landed["repos"]
    t = clean_truth(repos, org["issues"], org["branches"])
    truth = {
        "raw_rows": len(repos) + len(org["issues"]) + len(org["branches"]),
        "raw_bytes": landed["raw_bytes"],
        "clean_rows": {
            "repos_clean": len(t["repos"]), "owners_clean": len(t["owners"]),
            "branches_clean": len(t["branches"]), "issues_clean": len(t["issues"]),
            "users_clean": len(t["users"]),
        },
        "enforced_rows": enforce_truth(t),
        "orphans": {"branches": t["b_orph"], "issues": t["i_orph"]},
        "audit_lines": audit_lines(t),
    }
    (raw_dir / "truth.json").write_text(json.dumps(truth, indent=1))
    return truth


def write_incremental_zone(raw_dir: Path, org: dict) -> None:
    """Land the issues and branches files the deltas are cleaned against;
    the repos files land one at a time (:func:`land_repos_file`)."""
    raw_dir.mkdir(parents=True, exist_ok=True)
    _dump(raw_dir / "issues_raw.json", org["issues"])
    _dump(raw_dir / "branches_raw.json", org["branches"])


def incremental_truth(raw_dir: Path, org: dict, files: list[list[dict]]) -> list[dict]:
    """The truth of the delta sequence, written beside the raw zone as
    ``truth.json``: entry ``i`` is :func:`merged_truth` after the first
    ``i + 1`` repos files."""
    truth = [merged_truth(files[: i + 1], org) for i in range(len(files))]
    (raw_dir / "truth.json").write_text(
        json.dumps([{k: v for k, v in t.items() if k != "latest"} for t in truth], indent=1)
    )
    return truth


def land_repos_file(raw_dir: Path, index: int, rows: list[dict]) -> int:
    """Land one repos file atomically (write then rename, so a file
    stream never lists a half-written file); returns its byte size."""
    tmp = raw_dir / f".repos_raw_{index:04d}.tmp"
    n = _dump(tmp, rows)
    tmp.rename(raw_dir / f"repos_raw_{index:04d}.json")
    return n


def merged_truth(files: list[list[dict]], org: dict) -> dict:
    """Expected merged tables after the given repos files were ingested
    one per micro-batch: newer files win per key, and each batch cleans
    the full issues and branches files against its own repos."""
    t = clean_truth([r for f in files for r in f], org["issues"], org["branches"])
    return {
        "repos_clean": len(t["repos"]), "owners_clean": len(t["owners"]),
        "branches_clean": len(t["branches"]), "issues_clean": len(t["issues"]),
        "users_clean": len(t["users"]), "latest": t["repos"],
    }
