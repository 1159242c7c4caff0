"""Correctness check of a run's outputs against DuckDB.

Each check names a parquet output the engine wrote (a results artifact, a
separate re-materialization of a batch op, or a stream's read-back) and the
oracle SQL for it. DuckDB answers the oracle over the same tables and both
sides are compared after the canonicalisation of tools/check_oracle.py:
columns sorted by name, floats to six decimals, NULL spelled out, rows
sorted. A `subset` check (a LIMIT without ORDER BY) passes when the output
has the stated row count and every row is one of the oracle's rows.
"""
import collections
import glob
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROW_INDEX = "__graft_row"  # paging column of the results artifact


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.6f}")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


class Oracle:
    """DuckDB over the benchmark tables (and the crawled raw-data tree)."""

    def __init__(self, data_dir, raw_root=None):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        if raw_root:
            self.con.execute("CREATE SCHEMA data_pipeline_db")
            self.con.execute(
                "CREATE VIEW data_pipeline_db.raw_data AS SELECT * FROM "
                f"read_csv('{raw_root}/**/*.csv', header = true, hive_partitioning = true)")
        self.cache = {}

    def answer(self, sql):
        if sql not in self.cache:
            q = self.con.execute(sql)
            cols = [d[0] for d in q.description]
            self.cache[sql] = (sorted(cols), canon(q.fetchall(), cols))
        return self.cache[sql]

    def output(self, path):
        if not glob.glob(os.path.join(path, "*.parquet")):
            raise ValueError(f"no parquet output under {path}")
        src = f"read_parquet('{path}/*.parquet')"
        cols = [d[0] for d in self.con.execute(f"SELECT * FROM {src} LIMIT 0").description]
        sel = f"SELECT * EXCLUDE ({ROW_INDEX})" if ROW_INDEX in cols else "SELECT *"
        q = self.con.execute(f"{sel} FROM {src}")
        cols = [d[0] for d in q.description]
        return sorted(cols), canon(q.fetchall(), cols)

    def verify(self, check):
        """Returns (ok, rows, reason)."""
        try:
            got_cols, got = self.output(check["path"])
        except Exception as e:  # a missing or unreadable output is a wrong result
            return False, 0, f"output: {e}"
        try:
            want_cols, want = self.answer(check["oracle"])
        except Exception as e:
            return False, len(got), f"oracle error: {e}"
        if got_cols != want_cols:
            return False, len(got), f"columns {got_cols} != {want_cols}"
        if check.get("mode") == "subset":
            missing = collections.Counter(got) - collections.Counter(want)
            if len(got) != check["rows"] or missing:
                return False, len(got), f"{len(got)} rows, {sum(missing.values())} not in oracle"
            return True, len(got), ""
        if got != want:
            if len(got) != len(want):
                return False, len(got), f"rows {len(got)} != {len(want)}"
            diff = next((a, b) for a, b in zip(got, want) if a != b)
            return False, len(got), f"value mismatch, e.g. {diff}"
        return True, len(got), ""


def apply(run, data_dir):
    """Checks every output named in `run`; marks ops with a wrong output as
    failed. Batch and stream ops are checked through their warm-up
    materialization: a wrong one fails every timed op of that name.
    Returns (checks attempted, list of failures)."""
    oracle = Oracle(data_dir, run.get("extra", {}).get("raw_root"))
    failures = []
    rows_of = {}
    bad_names = {}
    for c in run["checks"]:
        ok, n, why = oracle.verify(c)
        rows_of[c["op"]] = n
        if not ok:
            bad_names[c["op"]] = why
            failures.append((c["op"], why))
    n_checks = len(run["checks"])
    for op in run["ops"]:
        if not op["ok"]:
            continue
        if op.get("check"):
            n_checks += 1
            ok, _, why = oracle.verify(op["check"])
            if not ok:
                op["ok"], op["error"] = False, f"wrong result: {why}"
                failures.append((op["name"], why))
        elif op["name"] in bad_names:
            op["ok"], op["error"] = False, f"wrong result: {bad_names[op['name']]}"
        if op["rows"] < 0:
            op["rows"] = rows_of.get(op["name"], 0)
    return n_checks, failures
