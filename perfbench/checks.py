"""Output checks of the graft benchmark, run after the timed loop.

The JVM harness already failed every operation whose own output check
failed (describe drift between operations). These checks compare what it
recorded with DuckDB over the same generated files:

- report_lineitem: describe statistics against DuckDB aggregates, and the
  validate findings against the violations the generator planted;
- registry_mix: every query's result against its DuckDB oracle SQL
  (`SparkEntry.oracleSql`), row by row, with floats equal up to rounding
  drift (`same_float`).

`check` returns ({operation index: reason}, reason failing every operation
or None).
"""
import glob
import math
import os

import duckdb
import pandas as pd

from gen import LINEITEM_RULES


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b))


# ---------------------------------------------------------------- report

def normalized_lineitem(con, path):
    con.sql(f"""CREATE OR REPLACE VIEW li AS SELECT
        l_orderkey, l_partkey, l_suppkey, l_linenumber,
        CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS l_quantity,
        l_extendedprice,
        CASE WHEN isnan(l_discount) THEN NULL ELSE l_discount END AS l_discount,
        l_tax,
        CASE WHEN l_returnflag IN ('null', '') THEN NULL ELSE l_returnflag END AS l_returnflag,
        CASE WHEN l_linestatus IN ('null', '') THEN NULL ELSE l_linestatus END AS l_linestatus,
        l_shipdate
        FROM '{path}'""")


def violation(column, rule):
    """SQL predicate for a row that breaks `rule`: a value outside a range,
    or a value (null included) outside an accepted set."""
    if "range" in rule:
        lo, hi = rule["range"]
        return f"f.{column} < {lo} OR f.{column} > {hi}"
    accepted = ", ".join(f"'{v}'" for v in rule["accepted"])
    return f"coalesce(f.{column} NOT IN ({accepted}), true)"


def check_report(res, manifest, input_dir):
    out = res["results"]
    if out.get("findings_digest") != manifest["findings_digest"]:
        return f"validate findings {out.get('findings')} differ from the {manifest['findings']} planted"
    con = duckdb.connect()
    normalized_lineitem(con, os.path.join(input_dir, "lineitem.parquet"))
    describe = out.get("describe") or {}
    if len(describe) != 11:
        return f"describe returned {len(describe)} of 11 columns"
    for column, stats in describe.items():
        numeric = column not in ("l_returnflag", "l_linestatus", "l_shipdate")
        q = [f"count({column})", f"count(*) - count({column})", f"count(DISTINCT {column})"]
        keys = ["count", "n_null", "distinct_count"]
        if numeric:
            q += [f"avg({column})", f"stddev_samp({column})", f"min({column})", f"max({column})",
                  f"sum({column})"]
            keys += ["mean", "std", "min", "max", "sum"]
        row = con.sql(f"SELECT {', '.join(q)} FROM li").fetchone()
        for k, want in zip(keys, row):
            if k not in stats:
                continue
            got = stats[k]
            want = float(want) if want is not None else None
            if not close(got, want, 1e-9):
                return f"describe {column}.{k} = {got}, DuckDB says {want}"
    # verbose findings join every row sharing the violating row's key; the
    # generator plants at most one violation per row, so a violating row is
    # one finding
    findings = con.sql(f"""
        SELECT count(*) FROM li f JOIN li d USING (l_orderkey)
        WHERE {' OR '.join(violation(c, r) for c, r in LINEITEM_RULES.items())}""").fetchone()[0]
    if out.get("verbose_rows") != findings:
        return f"validate(verbose) returned {out.get('verbose_rows')} rows, DuckDB says {findings}"
    return None


# ---------------------------------------------------------------- registry

def canon_value(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0"
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else repr(v)
    if isinstance(v, (bool,)):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "tolist"):
        return canon_value(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def is_float(v):
    return isinstance(v, float) and math.isfinite(v)


def same_float(a, b):
    """Two finite floats agree when they differ by at most 1e-10 of their
    size. The registry queries and their oracle SQL round with the same
    floor(x * 10^k + 0.5) / 10^k, but when the exact value lies within a
    few ULPs of a rounding boundary the two engines' summation orders put
    it on different sides: a variance of 9.1e8 rounded at 4 decimals reads
    ...3411 in one engine and ...3412 in the other, 1.1e-13 apart."""
    return abs(a - b) <= 1e-10 * max(abs(a), abs(b))


def row_key(row):
    return tuple((0, v, "") if is_float(v) else (1, 0.0, canon_value(v)) for v in row)


def frame_diff(spark, duck):
    """None when the two frames hold the same rows, else what differs.
    Rows are matched after sorting; floats compare with `same_float`,
    everything else by canonical value."""
    cols = sorted(spark.columns)
    if cols != sorted(duck.columns):
        return f"columns {cols} vs {sorted(duck.columns)}"
    if len(spark) != len(duck):
        return f"{len(spark)} rows vs {len(duck)}"
    a, b = ([tuple(r) for r in f[cols].astype(object).itertuples(index=False, name=None)]
            for f in (spark, duck))
    for ra, rb in zip(sorted(a, key=row_key), sorted(b, key=row_key)):
        for c, x, y in zip(cols, ra, rb):
            if canon_value(x) == canon_value(y) or (is_float(x) and is_float(y) and same_float(x, y)):
                continue
            return f"{c}: spark {canon_value(x)}, duckdb {canon_value(y)}"
    return None


def check_registry(res, manifest, input_dir):
    out = res["results"]
    con = duckdb.connect()
    for t in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{t}'")
    bad = {}
    for q, info in out["queries"].items():
        if info["error"]:
            bad[q] = f"query threw {info['error']}"
            continue
        if not info["sql"]:
            bad[q] = "no oracle SQL"
            continue
        spark = pd.read_parquet(os.path.join(out["oracle_dir"], q))
        try:
            duck = con.sql(info["sql"]).df()
        except Exception as e:  # noqa: BLE001 - an oracle error fails the query
            bad[q] = f"oracle SQL failed: {e}"
            continue
        diff = frame_diff(spark, duck)
        if diff:
            bad[q] = f"differs from the DuckDB oracle: {diff}"
    order = out["order"]
    return {o["i"]: bad[order[o["i"] % len(order)]] for o in res["ops"]
            if order[o["i"] % len(order)] in bad}


def check(workload, res, manifest, input_dir):
    if res.get("fail_all"):
        return {}, res["fail_all"]
    if workload == "registry_mix":
        return check_registry(res, manifest, input_dir), None
    return {}, check_report(res, manifest, input_dir)
