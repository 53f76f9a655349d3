"""Result and input checks of the benchmark (Python side).

* Registry rows are compared with their DuckDB oracle (`Q.oracle`, the SQL in
  `SparkEntry.oracleSql`) by `tools/check_oracle.py`'s `compare`, over the
  same fixture directory. Oracle results are cached per fixture digest.
* Rows without an oracle are checked by their pinned row count.
* Hustle-DSL selects are compared with their equivalent SQL run in DuckDB;
  floating-point aggregates may differ in the last bits because the two
  engines sum in different orders, so those compare with a relative
  tolerance.
* Every fixture table gets a content digest (row count plus the sum of
  DuckDB row hashes), compared with the digests pinned in `expected.json`;
  the tables a run generates for itself get one recorded.
"""
import hashlib
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT / "tools"))
import check_oracle  # noqa: E402  (the repo's oracle comparison)

TABLES = check_oracle.TABLES
FLOAT_RTOL = 1e-9


def table_source(fixture: Path, table: str):
    p = fixture / f"{table}.parquet"
    if p.is_dir():
        return f"{p}/*.parquet"
    return str(p) if p.exists() else None


def connect(fixture: Path):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        src = table_source(fixture, t)
        if src:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def parquet_digest(con, source: str):
    """[rows, digest] of parquet data: insensitive to row order and file layout."""
    n, h = con.execute(f"SELECT count(*), sum(hash(x)::HUGEINT) "
                       f"FROM read_parquet('{source}') x").fetchone()
    return [int(n), format(int(h or 0) % (1 << 64), "016x")]


def fixture_digests(fixture: Path):
    """{table: [rows, digest]} of a fixture directory."""
    con = duckdb.connect()
    return {t: parquet_digest(con, src) for t in TABLES
            if (src := table_source(fixture, t))}


def dataset_digests(d: Path):
    """{name: [rows, digest]} of the parquet datasets (directories) in d."""
    con = duckdb.connect()
    return {p.name: parquet_digest(con, f"{p}/*.parquet")
            for p in sorted(d.iterdir()) if p.is_dir()}


def read_spark(out_dir: str) -> pd.DataFrame:
    files = sorted(Path(out_dir).glob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def digest(df: pd.DataFrame) -> str:
    """Digest of a result as a set of rows: insensitive to row and column
    order, sensitive to every value (floats by their exact bits)."""
    d = check_oracle.norm(df.copy())
    h = hashlib.sha256()
    h.update(",".join(d.columns).encode())
    for row in d.itertuples(index=False, name=None):
        h.update(repr(tuple(v.hex() if isinstance(v, float) else str(v) for v in row)).encode())
    return h.hexdigest()[:16]


def compare_close(a: pd.DataFrame, b: pd.DataFrame) -> str:
    """check_oracle.compare, except that floats may differ by FLOAT_RTOL."""
    res = check_oracle.compare("", a, b)
    if not res.startswith("FLOATDIFF"):
        return res
    x, y = check_oracle.norm(a.copy()), check_oracle.norm(b.copy())
    for c in x.columns:
        if x[c].dtype.kind == "f" or y[c].dtype.kind == "f":
            u, v = x[c].astype("float64"), y[c].astype("float64")
            tol = FLOAT_RTOL * v.abs().clip(lower=1.0)
            if not ((u - v).abs() <= tol).all():
                return f"FAIL col {c} beyond rtol {FLOAT_RTOL}"
    return "OK"


class Checker:
    """Verifies the checked executions a run wrote out."""

    def __init__(self, cache_dir: Path, expected: dict, fixture_digest: dict):
        self.cache = cache_dir
        self.expected = expected
        self.digests = fixture_digest  # fixture dir -> its table digests
        self.cons = {}

    def con(self, fixture: str):
        if fixture not in self.cons:
            self.cons[fixture] = connect(Path(fixture))
        return self.cons[fixture]

    def oracle(self, fixture: str, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((json.dumps(self.digests[fixture], sort_keys=True) + sql)
                             .encode()).hexdigest()[:24]
        path = self.cache / f"{key}.pkl"
        if path.exists():
            return pd.read_pickle(path)
        df = self.con(fixture).execute(sql).df()
        self.cache.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        df.to_pickle(tmp)
        tmp.replace(path)
        return df

    def check(self, c: dict) -> dict:
        """-> {"op", "kind", "status", "digest", "rows"}; status "OK" or why not."""
        res = {"op": c["op"], "kind": c["kind"]}
        try:
            spark = read_spark(c["dir"])
            res["rows"] = len(spark)
            res["digest"] = digest(spark)
            if c["kind"] == "oracle":
                res["status"] = check_oracle.compare(c["op"], spark, self.oracle(c["fixture"], c["sql"]))
            elif c["kind"] == "sql":
                want = self.con(c["fixture"]).execute(c["sql"]).df()
                res["status"] = compare_close(spark, want)
            else:
                pinned = self.expected.get("row_counts", {}).get(c["op"])
                res["status"] = ("OK" if pinned == len(spark)
                                 else f"FAIL rows {len(spark)}, pinned {pinned}")
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            res["status"] = f"ERROR {type(e).__name__}: {e}"[:300]
        return res
