"""Output checks of the benchmark, run after the JVM exits (outside every
timed region).

Catalog ops: each op's parquet result is reduced to a digest and compared
with the digest of the entry's DuckDB oracle SQL over the same tables
(`Q.noOracle` entries need rows > 0). Oracle digests are cached in
`digests.json`, keyed by data set and by the SHA-256 of the oracle SQL, so
brute-force oracles are not re-run on every check; a missing or stale key
is computed live and kept in the build directory's cache.

Ingest: the landed `(id, published_at)` multiset of the backfill and of
each cycle must equal what the generator's manifest says, each record
exactly once; the page offset committed by each cycle must equal the pages
appended so far; and the watermark the engine computes after each cycle
(`ArticlePipeline.nextWatermark` over everything the stream has landed)
must equal the newest valid published_at appended so far, so it never
goes backwards.
"""
import glob
import hashlib
import json
import math
import os
from collections import Counter
from datetime import datetime, timedelta, timezone
from fractions import Fraction

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------------ catalog
def canon(v):
    """A hashable value that is equal exactly when Python's == holds for
    the values DuckDB returns (the oracle compare's equality)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return repr(v)
        return ("n", Fraction(v))
    if isinstance(v, (bool, int)):
        return ("n", Fraction(int(v)))
    if hasattr(v, "as_integer_ratio") and not isinstance(v, str):   # Decimal
        return ("n", Fraction(v))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def digest(table):
    """Digest of an arrow table: sorted column names, row count and each
    column's values in row order."""
    h = hashlib.sha256()
    cols = sorted(table.column_names)
    h.update(repr((cols, table.num_rows)).encode())
    for c in cols:
        h.update(repr([canon(x) for x in table.column(c).to_pylist()]).encode())
    return h.hexdigest()


class Catalog:
    def __init__(self, data_dir, cache_path):
        self.data_dir = data_dir
        self.key = os.path.basename(os.path.normpath(data_dir))
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        with open(os.path.join(HERE, "digests.json")) as f:
            self.shipped = json.load(f).get(self.key, {})
        self.cache_path = cache_path
        self.cache_all = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache_all = json.load(f)
        self.cache = self.cache_all.setdefault(self.key, {})
        self.memo = {}

    def expected(self, name, sql):
        sha = hashlib.sha256(sql.encode()).hexdigest()
        for src in (self.shipped, self.cache):
            hit = src.get(name)
            if hit and hit["sql_sha256"] == sha:
                return hit["digest"]
        d = digest(self.con.execute(sql).fetch_arrow_table())
        self.cache[name] = {"sql_sha256": sha, "digest": d}
        with open(self.cache_path, "w") as f:
            json.dump(self.cache_all, f, indent=1, sort_keys=True)
        return d

    def result(self, out_dir):
        files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        if not files:
            raise ValueError("no result files")
        lst = "[" + ",".join(f"'{f}'" for f in files) + "]"
        return self.con.execute(f"SELECT * FROM read_parquet({lst})").fetch_arrow_table()

    def check(self, op, oracle_sql):
        """None when the op's output is right, else the reason."""
        name = op["name"]
        try:
            got = self.result(op["out"])
        except Exception as e:                      # noqa: BLE001 - reported
            return f"unreadable result: {e}"
        if name not in oracle_sql:
            return None if got.num_rows > 0 else "no-oracle entry returned 0 rows"
        if name not in self.memo:
            self.memo[name] = self.expected(name, oracle_sql[name])
        d = digest(got)
        return None if d == self.memo[name] else f"digest {d[:12]} != oracle {self.memo[name][:12]}"


# ------------------------------------------------------------------- ingest
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def micros(ts):
    """Microseconds since the epoch of a published_at the generator wrote."""
    return (datetime.fromisoformat(ts.replace("Z", "+00:00")) - EPOCH) // timedelta(microseconds=1)


def landed(files):
    got = Counter()
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    got[(r.get("id"), r.get("published_at"))] += 1
    return got


def part_files(d):
    return sorted(p for p in glob.glob(os.path.join(d, "ingest_date=*", "part-*")))


def check_ingest_pass(p, feed_root):
    """Marks each op of one ingest pass with its check result; returns the
    bytes and files the pass stored."""
    with open(os.path.join(feed_root, p["feed"], "manifest.json")) as f:
        man = json.load(f)
    stored = []
    newest = None
    last_wm = None
    for op in p["ops"]:
        if op["kind"] == "cycle":
            c = man["cycles"][op["cycle"]]
            newest = max([micros(ts) for _, ts in c["articles"]] +
                         ([newest] if newest is not None else []), default=None)
        if op["error"]:
            op["check"] = op["error"]
            continue
        if op["kind"] == "backfill":
            files = part_files(op["out"])
            want = Counter(tuple(x) for x in man["backfill"])
        else:
            files = op["files"]
            want = Counter(tuple(x) for x in c["articles"])
        stored += files
        got = landed(files)
        why = None
        if got != want:
            miss, extra = want - got, got - want
            why = f"landed != manifest ({sum(miss.values())} missing, {sum(extra.values())} extra)"
        elif op["kind"] == "cycle":
            wm = op["watermark_us"]
            if op["end_offset"] != c["pages"]:
                why = f"committed offset {op['end_offset']} != {c['pages']} pages appended"
            elif wm is not None and last_wm is not None and wm < last_wm:
                why = f"engine watermark went backwards ({wm} < {last_wm})"
            elif wm != newest:
                why = f"engine watermark {wm} != newest published_at appended {newest}"
            last_wm = wm
        op["check"] = why
    return {"files": len(stored), "bytes": sum(os.path.getsize(f) for f in stored),
            "valid_bytes": man["valid_bytes"],
            "articles": len(man["backfill"]) + sum(
                len(man["cycles"][op["cycle"]]["articles"])
                for op in p["ops"] if op["kind"] == "cycle")}
