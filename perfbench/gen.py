"""Seeded input generators with planted ground truth.

Each generator runs in this one process (pure Python + pyarrow, no
Spark), writes its table under ``workdir`` and returns a ``Table``: the
path the engine is given, the counts the generator planted, and the
parsed documents the engine's schemas must reproduce.  The same seed
gives byte-identical tables.

Planted faults (exact counts, disjoint row sets): truncated JSON, NULL
content, corrupt ``content_sha``, a disallowed lang, duplicate
``(repo, path, commit)`` keys, repos missing from the ``repo_dims``
table (RI orphans) and one repo whose content lengths drift.  No NULL
key cells are planted; see NOTES.md.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

try:
    import orjson

    def _dumps(doc) -> str:
        return orjson.dumps(doc).decode()
except ImportError:  # same compact text, slower
    def _dumps(doc) -> str:
        return json.dumps(doc, separators=(",", ":"))

REPO_COLS = ("repo", "path", "commit", "lang", "content", "content_sha")
ICEBERG_SCHEMA = [(c, "string") for c in REPO_COLS]
CODE_LANGS = ("py", "java", "go", "md")
BAD_LANG = "cobol"
DRIFT_REPO = "drift/repo-d"
ORPHANS = ("orphan/repo-a", "orphan/repo-b")
N_REPOS = 48
CODE_LEN = 3                     # code blocks per code row, ~1 KB
_WORDS = ("alpha", "beta", "gamma", "delta", "kappa", "omega", "sigma",
          "node", "edge", "graph", "token", "cache", "queue", "frame",
          "batch", "store", "index", "query", "plan", "shard", "layer")


def _no_gc(fn):
    """Generation builds many small acyclic dicts, on which the cyclic
    collector only costs time: pause it for the call."""
    @functools.wraps(fn)
    def run(*a, **k):
        gc.disable()
        try:
            return fn(*a, **k)
        finally:
            gc.enable()
    return run


@dataclass
class Table:
    path: str
    n_rows: int
    truth: dict
    # valid documents (parsed form) in row order, with their key
    # (the repo)
    docs: list = field(default_factory=list)
    doc_keys: list = field(default_factory=list)
    doc_paths: list = field(default_factory=list)
    dims: Optional[list] = None      # repo dimension rows (RI)
    input_bytes: int = 0


def _n(rng: random.Random, lo: int, hi: int) -> int:
    """``rng.randint`` without its per-call overhead (same range)."""
    return lo + int(rng.random() * (hi - lo + 1))


def _pick(rng: random.Random, seq):
    return seq[int(rng.random() * len(seq))]


def _sha(text: Optional[str]) -> str:
    return hashlib.sha256((text or "").encode()).hexdigest()


def _uuid(rng: random.Random) -> str:
    h = "%032x" % rng.getrandbits(128)
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:]}"


def _dt(rng: random.Random) -> str:
    return (f"20{_n(rng, 10, 25):02d}-{_n(rng, 1, 12):02d}-"
            f"{_n(rng, 1, 28):02d}T{_n(rng, 0, 23):02d}:"
            f"{_n(rng, 0, 59):02d}:{_n(rng, 0, 59):02d}Z")


def _ip(rng: random.Random) -> str:
    return ".".join(str(_n(rng, 1, 254)) for _ in range(4))


class Pools:
    """Seeded pools of date-time and ipv4 strings: drawing from a pool
    keeps generation cheap; uuid, id and checksum keep documents
    distinct."""

    def __init__(self, rng: random.Random, n: int = 2048) -> None:
        self.dt = [_dt(rng) for _ in range(n)]
        self.ip = [_ip(rng) for _ in range(n)]


def wide_doc(rng: random.Random, i: int, pools: Pools) -> dict:
    """A distinct package-metadata document: nested, ~30 leaves, with
    date-time, uuid, uri and ipv4 strings.  A few keys are optional so
    the fold sees presence and type changes, not one fixed shape."""
    name = f"{_pick(rng, _WORDS)}-{_pick(rng, _WORDS)}-{i}"
    doc = {
        "id": i,
        "uuid": _uuid(rng),
        "name": name,
        "version": f"{_n(rng, 0, 9)}.{_n(rng, 0, 40)}."
                   f"{_n(rng, 0, 99)}",
        "created_at": _pick(rng, pools.dt),
        "updated_at": _pick(rng, pools.dt),
        "homepage": f"https://{_pick(rng, _WORDS)}.example.org/{name}",
        "size": _n(rng, 1, 10 ** 7),
        "score": round(rng.random() * 100, 3),
        "private": rng.random() < 0.1,
        "owner": {
            "login": f"user{rng.getrandbits(24)}",
            "id": _n(rng, 1, 10 ** 9),
            "site_admin": rng.random() < 0.01,
            "profile": {"url": f"https://people.example.net/u/{i}",
                        "joined": _pick(rng, pools.dt),
                        "followers": _n(rng, 0, 50000)},
        },
        "tags": [_pick(rng, _WORDS) for _ in range(_n(rng, 1, 4))],
        "stats": {"stars": _n(rng, 0, 90000),
                  "forks": _n(rng, 0, 9000),
                  "watchers": _n(rng, 0, 9000),
                  "open_issues": _n(rng, 0, 900),
                  "ratio": rng.random()},
        "deps": [{"name": _pick(rng, _WORDS),
                  "range": f"^{_n(rng, 0, 9)}.{_n(rng, 0, 9)}"}
                 for _ in range(_n(rng, 0, 3))],
        "mirror": {"host_ip": _pick(rng, pools.ip),
                   "fetched_at": _pick(rng, pools.dt),
                   "etag": "%016x" % rng.getrandbits(64)},
        "checksum": "%064x" % rng.getrandbits(256),
    }
    r = rng.random()
    if r < 0.3:
        doc["license"] = {"key": _pick(rng, ("mit", "apache-2.0", "bsd")),
                          "spdx_id": _pick(rng, ("MIT", "Apache-2.0"))}
    elif r < 0.4:
        doc["license"] = None
    if rng.random() < 0.2:
        doc["downloads"] = rng.random() * 1e6   # float where size is int
    return doc


def _code_blocks(rng: random.Random, n: int) -> list:
    blocks = []
    for k in range(n):
        w1, w2 = _pick(rng, _WORDS), _pick(rng, _WORDS)
        blocks.append(
            f"def {w1}_{w2}_{k}(x, y):\n"
            f"    # {w1} {w2} {rng.getrandbits(32):08x}\n"
            f"    total = x * {_n(rng, 2, 99)} + y\n"
            f"    for i in range({_n(rng, 2, 50)}):\n"
            f"        total += {w2}_helper(i, total)\n"
            f"    return total\n\n")
    return blocks


def _code(rng: random.Random, blocks: list, i: int, n_blocks: int) -> str:
    return (f"# file {i} rev {rng.getrandbits(32):08x}\n"
            + "".join(_pick(rng, blocks) for _ in range(n_blocks)))


def _plant(rows: list, pool: list, rng: random.Random, counts: dict,
           code_blocks: list) -> dict:
    """Plant the row-level faults on disjoint rows drawn from ``pool``
    (indices of clean JSON rows of ordinary repos).  Returns the set of
    planted row indices per kind."""
    need = sum(counts.values()) + counts.get("dup", 0)
    picked = rng.sample(pool, need)
    out, at = {}, 0
    for kind in ("truncated", "null_content", "bad_sha", "bad_lang",
                 "dup"):
        k = counts.get(kind, 0)
        out[kind] = picked[at:at + k]
        at += k
    dup_src = picked[at:at + counts.get("dup", 0)]
    for i in out["truncated"]:
        r = rows[i]
        r["content"] = r["content"][:40]
        r["content_sha"] = _sha(r["content"])
    for i in out["null_content"]:
        rows[i]["content"] = None
        rows[i]["content_sha"] = _sha(f"null-{i}")
    for i in out["bad_sha"]:
        rows[i]["content_sha"] = _sha(rows[i]["content"] + "x")
    for i in out["bad_lang"]:
        r = rows[i]
        r["lang"] = BAD_LANG
        r["content"] = _code(rng, code_blocks, i, 2)
        r["content_sha"] = _sha(r["content"])
    for i, j in zip(out["dup"], dup_src):
        for c in ("repo", "path", "commit"):
            rows[i][c] = rows[j][c]
    return out


def _repo_rows(rng: random.Random, lo: int, hi: int, *, json_share: float,
               mega_share: float, code_blocks: list,
               drift_share: float = 0.08,
               orphan_share: float = 0.006) -> list:
    pools = Pools(rng)
    return [_repo_row(rng, i, pools, json_share, mega_share, code_blocks,
                      drift_share, orphan_share)
            for i in range(lo, hi)]


def _repo_row(rng, i, pools, json_share, mega_share, code_blocks,
              drift_share, orphan_share) -> dict:
    r = rng.random()
    if r < drift_share:
        repo, kind = DRIFT_REPO, "drift"
    elif r < drift_share + orphan_share:
        repo, kind = ORPHANS[i % 2], "json"
    elif r < drift_share + orphan_share + mega_share:
        repo, kind = "mega/monorepo", "pick"
    else:
        k = rng.randrange(N_REPOS)
        repo, kind = f"org{k % 6}/repo{k:03d}", "pick"
    if kind == "pick":
        kind = "json" if rng.random() < json_share else "code"
    if kind == "json":
        lang, doc = "json", wide_doc(rng, i, pools)
        content = _dumps(doc)
    elif kind == "drift":
        # content far longer than any other row: every bucket this
        # repo salts into moves its content-length histogram
        lang, doc = "md", None
        content = _code(rng, code_blocks, i, 4 * CODE_LEN)
    else:
        lang, doc = _pick(rng, CODE_LANGS), None
        content = _code(rng, code_blocks, i, CODE_LEN)
    return {"repo": repo,
            "path": f"src/{i % 97:02d}/file_{i}.{lang}",
            "commit": "%040x" % rng.getrandbits(160),
            "lang": lang, "content": content,
            "content_sha": _sha(content), "_doc": doc}


def _truth(rows: list, planted: dict) -> dict:
    n_json = sum(1 for r in rows if r["lang"] == "json")
    t, z = len(planted["truncated"]), len(planted["null_content"])
    s, l_ = len(planted["bad_sha"]), len(planted["bad_lang"])
    return {
        "rows": len(rows),
        "json_err": t + z,
        "json_ok": n_json - t - z,
        "sha_bad": s + z,
        "lang_bad": l_,
        "null_content": z,
        "dup_keys": len(planted["dup"]),
        "orphan_rows": sum(1 for r in rows if r["repo"] in ORPHANS),
        "drift_rows": sum(1 for r in rows if r["repo"] == DRIFT_REPO),
    }


def _write_parquet(columns: dict, path: str, n_files: int = 8) -> int:
    """Write the table as ``n_files`` row-contiguous parquet files (two
    scan splits per core on a 4-core session, as a table written by many
    tasks would be split); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // n_files)
    size = 0
    for k in range(n_files):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        size += os.path.getsize(f)
    return size


@_no_gc
def validate_json_unique(seed: int, workdir: str) -> Table:
    """80k rows, about 80% distinct wide JSON and the rest code, with
    every row-level fault planted."""
    name, n = "validate_json_unique", 80_000
    rng = random.Random(f"{name}:{seed}")
    blocks = _code_blocks(rng, 400)
    rows = _repo_rows(rng, 0, n, json_share=0.83, mega_share=0.0,
                      code_blocks=blocks)
    counts = {"truncated": 60, "null_content": 15, "bad_sha": 40,
              "bad_lang": 30, "dup": 12}
    pool = [i for i, r in enumerate(rows)
            if r["lang"] == "json" and r["repo"] not in ORPHANS]
    planted = _plant(rows, pool, rng, counts, blocks)
    bad = set(planted["truncated"]) | set(planted["null_content"])
    path = os.path.join(workdir, name)
    size = _write_parquet({c: [r[c] for r in rows] for c in REPO_COLS},
                          path)
    repos = sorted({r["repo"] for r in rows} - set(ORPHANS))
    good = [r for i, r in enumerate(rows)
            if r["lang"] == "json" and i not in bad]
    return Table(path=path, n_rows=n, truth=_truth(rows, planted),
                 docs=[r["_doc"] for r in good],
                 doc_keys=[r["repo"] for r in good],
                 doc_paths=[r["path"] for r in good],
                 dims=repos, input_bytes=size)


# ------------------------------------------------------------ iceberg

class IcebergSeries:
    """Row source for the append workload: a base snapshot, then small
    appends with fresh keys, each carrying a few planted faults."""

    def __init__(self, seed: int, workdir: str, base: int = 12_000,
                 delta: int = 800) -> None:
        self.rng = random.Random(f"incremental_append:{seed}")
        self.blocks = _code_blocks(self.rng, 400)
        self.path = os.path.join(workdir, "incremental_append")
        self.base, self.delta = base, delta
        self.next_row = 0
        self.truth = {"rows": 0, "json_ok": 0, "json_err": 0,
                      "sha_bad": 0, "lang_bad": 0}
        self.docs: list = []
        self.doc_keys: list = []

    @_no_gc
    def _rows(self, n: int, counts: dict) -> list:
        """The next ``n`` rows with their planted faults; the truth counts
        and documents grow as the rows are made."""
        lo = self.next_row
        rows = _repo_rows(self.rng, lo, lo + n, json_share=0.6,
                          mega_share=0.1, code_blocks=self.blocks,
                          drift_share=0.0, orphan_share=0.0)
        pool = [i for i, r in enumerate(rows) if r["lang"] == "json"]
        planted = _plant(rows, pool, self.rng, counts, self.blocks)
        t = _truth(rows, planted)
        for k in self.truth:
            self.truth[k] += t[k]
        bad = set(planted["truncated"]) | set(planted["null_content"])
        good = [r for i, r in enumerate(rows)
                if r["lang"] == "json" and i not in bad]
        self.docs.extend(r["_doc"] for r in good)
        self.doc_keys.extend(r["repo"] for r in good)
        self.next_row += n
        return [{c: r[c] for c in REPO_COLS} for r in rows]

    def create(self) -> Table:
        self.append(self._rows(self.base, {"truncated": 30,
                                           "null_content": 8,
                                           "bad_sha": 20, "bad_lang": 15}))
        return self.table()

    def delta_rows(self) -> list:
        """The rows of one small append, not yet written."""
        return self._rows(self.delta, {"truncated": 3, "null_content": 1,
                                       "bad_sha": 2, "bad_lang": 2})

    def append(self, rows: list) -> None:
        """Write ``rows`` as one Iceberg append snapshot."""
        from schema_guru_spark.sources.iceberg_meta import append_snapshot
        append_snapshot(self.path, rows, ICEBERG_SCHEMA, partition_by="lang")

    def table(self) -> Table:
        return Table(path=self.path, n_rows=self.truth["rows"],
                     truth=dict(self.truth), docs=self.docs,
                     doc_keys=self.doc_keys,
                     input_bytes=data_bytes(self.path))


def data_bytes(table_path: str) -> int:
    return dir_bytes(os.path.join(table_path, "data"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
