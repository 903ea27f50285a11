"""Untimed correctness pass: every op's result against a DuckDB oracle.

The compare rules are tools/oracle_check.py's: columns sorted by name,
rows sorted by all columns, then column names, row count, dtypes and exact
values (NULL equals NULL, NaN equals NaN) must all agree. Each check
returns the list of op ids whose result did not match; the caller counts
those as failed ops.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(got, want, check_dtypes=True):
    """Problems found comparing two frames (empty list: they match)."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} vs {len(b)}"]
    problems = []
    for c in a.columns:
        if check_dtypes and str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"dtype[{c}] {a[c].dtype} vs {b[c].dtype}")
        av, bv = a[c].values, b[c].values
        if a[c].dtype == object or b[c].dtype == object:
            sa, sb = pd.Series(av, dtype=object), pd.Series(bv, dtype=object)
            ok = (sa.isna() & sb.isna()) | (sa == sb)
        else:
            ok = (pd.isna(av) & pd.isna(bv)) | (av == bv)
        if not np.asarray(ok).all():
            bad = np.where(~np.asarray(ok))[0][:3]
            problems.append(f"values[{c}] at rows {bad.tolist()}: "
                            f"{[(av[i], bv[i]) for i in bad]}")
    return problems


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def connect(data_dir):
    """DuckDB with a view per parquet table in the data dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


# ---------------------------------------------------------- ETL tables

def _dims_frame(out_dir):
    """q141's tall (dim, id, name) frame, built from the written dims the
    way EtlGate.q141Dims builds it from the pipeline's frames."""
    con = duckdb.connect()
    p = lambda t: f"read_parquet('{out_dir}/{t}/*.parquet')"
    df = con.execute(f"""
        SELECT 'time' AS dim, id_time AS id,
               CAST("YEAR" AS VARCHAR) || ':' || CAST(IS_CURRENT_YEAR AS VARCHAR) AS name
        FROM {p('dim_time')}
        UNION ALL SELECT 'suburb', id_suburb, SUBURB_NAME FROM {p('dim_suburb')}
        UNION ALL SELECT 'vehicle_type', id_vehicle_type, VEHICLE_TYPE FROM {p('dim_vehicle_type')}
        UNION ALL SELECT 'fuel_type', id_fuel_type, FUEL_TYPE || ':' || FUEL_DESCRIPTION
        FROM {p('dim_fuel_type')}""").fetchdf()
    con.close()
    return df


def check_etl(trio_dir, out_dir, oracles, log):
    """The six tables etl.Pipeline.run wrote to `out_dir` from the CSV trio
    derived from `trio_dir`'s part/nation, against the q139-q141 oracles."""
    con = connect(trio_dir)
    got = {"q139_etl_energy_fact": read_dir(f"{out_dir}/fact_energy_pollution"),
           "q140_etl_ev_fact": read_dir(f"{out_dir}/fact_ev_impact"),
           "q141_etl_dims": _dims_frame(out_dir)}
    problems = [f"{q}: {p}" for q in got for p in
                (["no output"] if got[q] is None else compare(got[q], con.execute(oracles[q]).fetchdf()))]
    if problems:
        log(f"ETL output {out_dir} mismatch: {problems[:3]}")
    return not problems


# ---------------------------------------------------------- dashboard_sql

def tile_sql(name, arg):
    """DuckDB twins of the Dashboard tiles over the written star schema."""
    ev = "(SELECT * FROM fact_ev_impact LEFT JOIN dim_suburb USING (id_suburb))"
    ep = "(SELECT * FROM fact_energy_pollution LEFT JOIN dim_suburb USING (id_suburb))"
    combined = f"""(WITH c AS (
          SELECT e.*, x.ENERGY_CONSUMPTION, x.NO2_LEVEL, x.NO2_CHANGE_PCT FROM {ev} e
          LEFT JOIN (SELECT id_suburb, ENERGY_CONSUMPTION, NO2_LEVEL, NO2_CHANGE_PCT
                     FROM {ep} WHERE "YEAR" = 2023) x USING (id_suburb)),
        st AS (SELECT MIN(EV_ADOPTION_SCORE) mn, MAX(EV_ADOPTION_SCORE) mx FROM c)
        SELECT c.*, CASE WHEN mx = mn THEN 50.0
          ELSE (EV_ADOPTION_SCORE - mn) / (mx - mn) * 100.0 END AS EV_ADOPTION_NORMALIZED
        FROM c, st)"""
    q = lambda s: "'" + s.replace("'", "''") + "'"
    if name == "kpis":
        return f"""SELECT CAST(TRUNC(SUM(TOTAL_EVS)) AS BIGINT) AS total_evs,
            CAST(TRUNC(SUM(BEV_COUNT)) AS BIGINT) AS bev_count,
            CAST(TRUNC(SUM(PHEV_COUNT)) AS BIGINT) AS phev_count,
            SUM(BEV_COUNT) / SUM(TOTAL_EVS) * 100.0 AS bev_percentage FROM {ev}"""
    if name == "evBySuburb":
        return f"SELECT SUBURB_NAME, TOTAL_EVS, BEV_COUNT, PHEV_COUNT FROM {ev}"
    if name == "suburbDrilldown":
        return (f'SELECT "YEAR", ENERGY_CONSUMPTION, NO2_LEVEL FROM {ep} '
                f"WHERE SUBURB_NAME = {q(arg)}")
    if name == "no2ChangeSorted":
        return f'SELECT SUBURB_NAME, NO2_CHANGE_PCT FROM {ep} WHERE "YEAR" = 2023'
    if name == "combined":
        return f"SELECT * FROM {combined}"
    if name == "radar":
        sel = ", ".join(q(s) for s in arg.split("|"))
        metrics = ["TOTAL_EVS", "AVG_RANGE_KM", "AVG_PRICE", "ENERGY_CONSUMPTION", "NO2_LEVEL"]
        inverted = {"NO2_LEVEL", "AVG_PRICE"}
        stats = ", ".join(f"MIN({m}) AS {m}_mn, MAX({m}) AS {m}_mx" for m in metrics)

        def norm(m):
            scaled = f"({m} - {m}_mn) / ({m}_mx - {m}_mn) * 100.0"
            val = f"100.0 - {scaled}" if m in inverted else scaled
            return f"CASE WHEN {m}_mx = {m}_mn THEN 50.0 ELSE {val} END AS {m}"
        return f"""WITH d AS (SELECT * FROM {combined} WHERE SUBURB_NAME IN ({sel})),
            st AS (SELECT {stats} FROM d)
            SELECT SUBURB_NAME, {', '.join(norm(m) for m in metrics)} FROM d, st"""
    raise ValueError(f"unknown tile {name}")


def records_frame(records, want):
    """JSON records (Dashboard.toJsonRecords) as a frame with the oracle's
    columns, or a problem string when a column or a value's JSON type does
    not fit the oracle's column type. Spark's JSON writer omits NULL fields,
    so a missing key reads as NULL."""
    cols = set().union(*[r.keys() for r in records]) if records else set()
    extra = cols - set(want.columns)
    if extra:
        return None, f"unexpected columns {sorted(extra)}"
    fits = {"i": lambda v: isinstance(v, int) and not isinstance(v, bool),
            "u": lambda v: isinstance(v, int) and not isinstance(v, bool),
            "f": lambda v: isinstance(v, float),
            "b": lambda v: isinstance(v, bool),
            "M": lambda v: isinstance(v, str),
            "O": lambda v: isinstance(v, str)}
    out = {}
    for c in want.columns:
        vals = [r.get(c) for r in records]
        kind = want[c].dtype.kind
        fit = fits.get(kind, lambda v: True)
        if not all(fit(v) for v in vals if v is not None):
            return None, f"column {c}: JSON values do not fit dtype {want[c].dtype}"
        if kind == "M":
            out[c] = pd.to_datetime(pd.Series(vals, dtype=object), utc=True) \
                .dt.tz_localize(None).values
        else:
            out[c] = pd.Series(vals, dtype=object)
    return pd.DataFrame(out, columns=list(want.columns)), None


def check_dashboard(data_dir, manifest, oracles, log):
    """Every op's JSON records against its request's oracle: the TPC-H
    texts are their own DuckDB oracle (SparkEntry.oracleSql), the tiles
    have DuckDB twins over the star schema. The star schema itself is
    checked against the ETL oracles (and so is the traced run's replay of
    the ETL); if either is wrong, every op fails."""
    star_ok = check_etl(f"{data_dir}/trio", manifest["star"], oracles, log)
    if "etl_trace" in manifest:  # the traced run's call-by-call ETL replay
        star_ok &= check_etl(f"{data_dir}/trio", manifest["etl_trace"], oracles, log)
    con = connect(f"{data_dir}/tpch")
    for t in ("dim_suburb", "fact_ev_impact", "fact_energy_pollution"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{manifest['star']}/{t}/*.parquet')")
    want_cache = {}
    bad = []
    with open(manifest["results"]) as f:
        for line in f:
            rec = json.loads(line)
            key = (rec["kind"], rec["name"], rec["arg"])
            if key not in want_cache:
                sql = oracles[rec["name"]] if rec["kind"] == "sql" else tile_sql(rec["name"], rec["arg"])
                want_cache[key] = con.execute(sql).fetchdf()
            want = want_cache[key]
            got, problem = records_frame(rec["records"], want)
            problems = [problem] if problem else compare(got, want, check_dtypes=False)
            if problems or not star_ok:
                if problems:
                    log(f"op {rec['op']} {key} mismatch: {problems[:3]}")
                bad.append(rec["op"])
    return bad


# ------------------------------------------------------ web_ingest_stream

def _web_frame(path):
    df = read_dir(path)
    if df is None:
        return None
    df["violations"] = df["violations"].map(lambda v: "|".join(v) if v is not None else None)
    return df


def check_web(manifest, log):
    """Streaming sink output against the batch WebIngest.ingest twin over
    the same pages; a mismatching doc fails the op whose batch carried it."""
    got, want = _web_frame(manifest["stream_out"]), _web_frame(manifest["batch_out"])
    if got is None or want is None:
        log("web ingest: missing output")
        return [f["op"] for f in manifest["fed"] if f["op"] >= 0], True
    id_op = {}
    for f in manifest["fed"]:
        with open(os.path.join(manifest["in_dir"], f["file"])) as fh:
            for line in fh:
                if line.strip():
                    id_op[json.loads(line)["doc_id"]] = f["op"]
    bad_ids = set()
    if list(canon(got).columns) != list(canon(want).columns):
        log("web ingest: column mismatch")
        return [f["op"] for f in manifest["fed"] if f["op"] >= 0], True
    g = got.set_index("doc_id").sort_index()
    w = want.set_index("doc_id").sort_index()
    bad_ids |= set(g.index[g.index.duplicated()])  # a page emitted twice
    g = g[~g.index.duplicated()]
    bad_ids |= set(g.index.symmetric_difference(w.index))
    common = g.index.intersection(w.index)
    for c in w.columns:
        a, b = g.loc[common, c], w.loc[common, c]
        ok = (a.isna() & b.isna()) | (a == b)
        bad_ids |= set(common[~ok.values])
    if bad_ids:
        log(f"web ingest: {len(bad_ids)} docs differ from the batch twin, e.g. "
            f"{sorted(bad_ids)[:5]}")
    ops = sorted({id_op.get(i, -1) for i in bad_ids})
    return [o for o in ops if o >= 0], any(o < 0 for o in ops)
