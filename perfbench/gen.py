"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files; the
engine under test only ever sees those files. Sizes are fixed per workload
(the seed changes contents, never row counts), so per-op work is the same
for every seed. Schemas and value domains follow the gate fixtures
(FIXTURES.md section B), so the declared DuckDB oracles apply unchanged.
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

# dashboard_sql: the star schema the tiles read is written in setup by the
# ETL from a CSV trio of this many EV listings; the TPC-H-shaped tables use
# this scale factor (sf0.1 = 600k lineitem rows).
DASH_LISTINGS = 20_000
TPCH_SF = 0.02
# web_ingest_stream: frozen corpus behind the split index (Zipf vocabulary),
# pages per micro-batch, batch files staged, held-out eval documents.
WEB_CORPUS_DOCS = 500
WEB_PAGES_PER_BATCH = 10
WEB_BATCHES = 40
WEB_EVAL_DOCS = 20
VOCAB_SIZE = 10_000
ZIPF_A = 1.1

BASE_VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
              "value", "data", "small", "join", "filter", "big", "group", "hash",
              "customer", "sort", "order", "slow", "line", "part", "fast", "row",
              "the", "a", "agg", "key", "query", "scan", "batch"]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def _rng(seed, stream):
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's values."""
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ------------------------------------------------------------ TPC-H shape

def _ts_ms(days):
    base = np.datetime64("1995-01-01", "ms")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[ms]"),
                    pa.timestamp("ms"))


def gen_tpch(out, seed, sf=TPCH_SF):
    """region/nation/customer/supplier/part/orders/lineitem with the
    gate fixtures' schemas and value domains, every column drawn
    independently and uniformly, as the fixtures do."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(r.integers(-99999, 1000000, n_cust) / 100.0, 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(r.integers(-99999, 1000000, n_supp) / 100.0, 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}), f"{out}/part.parquet")
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": status[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.integers(100000, 50000000, n_ord) / 100.0, 2),
        "o_orderdate": _ts_ms(r.integers(0, 2404, n_ord)),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]}), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.integers(90000, 10500000, n_line) / 100.0, 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts_ms(r.integers(1, 2499, n_line))}), f"{out}/lineitem.parquet")
    return {"lineitem": n_line, "orders": n_ord, "customer": n_cust,
            "part": n_part, "supplier": n_supp, "nation": 25, "region": 5}


# ---------------------------------------------------------- ETL CSV trio

# The derivations below are EtlCsvFixture's (queries/EtlGate.scala), so the
# q139-q141 oracles, which replay them in SQL over part/nation, apply.
_EV_SQL = """
SELECT
  CASE CAST(p_partkey % 4 AS INTEGER) WHEN 0 THEN 'SUV' WHEN 1 THEN 'Sedan'
    WHEN 2 THEN 'Hatch' ELSE 'Ute' END AS "VEHICLE TYPE",
  CASE CAST(p_partkey % 5 AS INTEGER) WHEN 0 THEN 'BEV' WHEN 1 THEN 'PHEV'
    WHEN 2 THEN 'BEV' WHEN 3 THEN 'ICE' ELSE 'Hybrid' END AS "FUEL TYPE",
  CASE WHEN p_partkey % 7 = 0 THEN 'Classic'
    ELSE 'Model ' || CAST(p_partkey % 9 + 2015 AS VARCHAR) END AS "MODEL",
  CASE WHEN p_partkey % 13 = 0 THEN NULL
    WHEN p_partkey % 11 = 0 THEN CAST((p_partkey * 7919) % 80000 + 20000 AS VARCHAR) || '*'
    ELSE CAST((p_partkey * 7919) % 80000 + 20000 AS VARCHAR) END AS "LISTED PRICE ($AUD)",
  CASE WHEN p_partkey % 17 = 0 THEN 'n/a'
    ELSE CAST((p_partkey * 31) % 500 + 100 AS VARCHAR) END AS "RANGE (km)",
  CASE CAST(p_partkey % 8 AS INTEGER) WHEN 0 THEN 'NATION_1' WHEN 1 THEN 'NATION_2'
    WHEN 2 THEN 'NATION_3' WHEN 3 THEN 'Alexandria ' WHEN 4 THEN ' Rozelle'
    WHEN 5 THEN 'Sydney' WHEN 6 THEN 'Newtown' ELSE 'Glebe' END AS "SUBURB"
FROM read_parquet('{part}')
"""

_ELEC_SQL = """
SELECT CAST(n_nationkey AS VARCHAR) AS "﻿FID",
  CASE WHEN n_nationkey % 6 = 2 THEN n_name || ' + EastSide' ELSE n_name END AS "Name",
  CASE WHEN n_nationkey = 7 THEN '0' WHEN n_nationkey = 9 THEN '8.379.343.471'
    ELSE CAST(n_nationkey * 155554 + 1000001 AS VARCHAR) END AS "F2021_22",
  CAST(n_nationkey * 177778 + 1000003 AS VARCHAR) AS "F2022_23",
  CAST(n_nationkey * 3 AS VARCHAR) AS "Shape__Area"
FROM read_parquet('{nation}') ORDER BY n_nationkey
"""

POLLUTION_CSV = (
    "Synthetic Air Quality Monitoring - Annual Averages\n"
    "Source: graft ETL gate fixture (deterministic)\n"
    "Date,Alexandria NO2 annual average [pphm],Rozelle NO2 annual average [pphm],"
    "Earlwood NO2 annual average [pphm],Cook and Phillip NO2 annual average [pphm],"
    "Randwick NO2 annual average [pphm],Macquarie Park NO2 annual average [pphm],"
    "Parramatta North NO2 annual average [pphm],Liverpool NO2 annual average [pphm],"
    "Alexandria CO annual average [ppm]\n"
    "31/12/2021,9,9,9,9,9,9,9,9,9\n"
    "31/12/2022,21,17,23,19,,27,15,11,3\n"
    "30/06/2023,24,13,,18,22,,19,12,4\n"
    "31/12/2023,26,15,,21,24,,17,10,5\n")


def gen_etl(out, seed, listings=DASH_LISTINGS):
    """A `part`-shaped table of `listings` seeded distinct keys plus
    `nation`, and the CSV trio derived from them the way EtlCsvFixture
    derives it: a `;` EV file with spaced/unit headers, `*` prices, `n/a`
    ranges, NULL cells and padded suburbs; a BOM-headed electricity file
    with composite suburbs and junk cells; a pollution file with two junk
    title lines above its header."""
    r = _rng(seed, 2)
    keys = np.cumsum(r.integers(1, 16, listings)).astype(np.int64)
    _write(pa.table({
        "p_partkey": keys,
        "p_name": pa.array(["listing"] * listings),
        "p_brand": pc.binary_join_element_wise(
            "Brand#", pc.cast(pa.array(r.integers(1, 26, listings)), pa.string()), ""),
        "p_type": pa.array(["STANDARD"] * listings),
        "p_size": pa.array(r.integers(1, 51, listings, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)}), f"{out}/part.parquet")
    perm = r.permutation(25).astype(np.int32)
    _write(pa.table({
        "n_nationkey": perm,
        "n_name": [f"NATION_{i}" for i in perm],
        "n_regionkey": pa.array(perm % 5)}), f"{out}/nation.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for sub in ("ev", "electricity"):
        os.makedirs(f"{out}/{sub}")
    con.execute(f"COPY ({_EV_SQL.format(part=f'{out}/part.parquet')}) "
                f"TO '{out}/ev/part-00000.csv' (HEADER, DELIMITER ';')")
    con.execute(f"COPY ({_ELEC_SQL.format(nation=f'{out}/nation.parquet')}) "
                f"TO '{out}/electricity/part-00000.csv' (HEADER, DELIMITER ';')")
    con.close()
    with open(f"{out}/pollution.csv", "w", encoding="utf-8") as f:
        f.write(POLLUTION_CSV)
    csv_bytes = sum(os.path.getsize(f"{out}/{sub}/{n}") for sub in ("ev", "electricity")
                    for n in os.listdir(f"{out}/{sub}")) + os.path.getsize(f"{out}/pollution.csv")
    return {"listings": listings, "csv_bytes": csv_bytes}


# --------------------------------------------------------------- corpus

def _vocab(size=VOCAB_SIZE, a=ZIPF_A):
    words = (BASE_VOCAB + [f"w{i}" for i in range(len(BASE_VOCAB), size)])[:size]
    w = 1.0 / np.arange(1, len(words) + 1) ** a
    return np.array(words), w / w.sum()


class _Tokens:
    """Zipf-distributed words, drawn in bulk from one seeded generator."""

    def __init__(self, r):
        self.r = r
        self.words, self.p = _vocab()
        self.pool, self.at = np.empty(0, dtype=np.int64), 0

    def take(self, n):
        if self.at + n > len(self.pool):
            self.pool = self.r.choice(len(self.words), size=max(200_000, n), p=self.p)
            self.at = 0
        out = self.words[self.pool[self.at:self.at + n]]
        self.at += n
        return list(out)


def _docs(r, n_docs, n_sources=20):
    """gen_sf1.py's sparse twin: Zipf vocabulary, 19-90 tokens per doc,
    planted near-dup runs (2% of docs get 1-3 one-word mutations, same
    lang/source) and exact dups (0.3%), plus cross-source copies of src0
    docs (1%) so an eval-set screen has contamination to find."""
    tok = _Tokens(r)
    langs = np.array(LANGS)
    ids, texts, lng, src = [], [], [], []
    n_near = n_exact = n_contam = 0
    src0_texts = []

    def add(text, lang, source):
        ids.append(len(ids)); texts.append(text); lng.append(lang); src.append(source)

    while len(ids) < n_docs:
        n = int(r.integers(19, 91))
        toks = tok.take(n)
        lang = str(langs[r.integers(0, len(langs))])
        source = f"src{int(r.integers(0, n_sources))}"
        text = " ".join(toks)
        add(text, lang, source)
        if source == "src0":
            src0_texts.append(text)
        if r.random() < 0.02:
            for _ in range(int(r.integers(1, 4))):
                if len(ids) >= n_docs:
                    break
                t2 = list(toks)
                t2[int(r.integers(0, n))] = tok.take(1)[0]
                add(" ".join(t2), lang, source)
                n_near += 1
        if r.random() < 0.003 and len(ids) < n_docs:
            add(text, lang, source)
            n_exact += 1
        if src0_texts and r.random() < 0.01 and len(ids) < n_docs:
            add(src0_texts[int(r.integers(0, len(src0_texts)))], lang,
                f"src{int(r.integers(1, n_sources))}")
            n_contam += 1
    stats = {"docs": n_docs, "near_dup_share": round(n_near / n_docs, 4),
             "exact_dup_share": round(n_exact / n_docs, 4),
             "eval_copy_share": round(n_contam / n_docs, 4)}
    return (ids, texts, lng, src), stats


def _docs_table(ids, texts, lng, src):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lng, pa.string()),
        "source": pa.array(src, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


# ---------------------------------------------------------------- pages

def _page(doc_id, text, r):
    boiler = int(r.integers(0, 5))
    return (f"<html><head><title>Doc {doc_id}</title>"
            f"<script>var nav = {boiler};</script><style>p {{ margin: 0 }}</style>"
            f"</head><body><div class=\"nav\">menu_{boiler}</div>"
            f"<p>{text}</p><footer>&copy; site &amp; co</footer></body></html>")


def gen_pages(out, seed, corpus_docs=WEB_CORPUS_DOCS, per_batch=WEB_PAGES_PER_BATCH,
              batches=WEB_BATCHES, eval_docs=WEB_EVAL_DOCS):
    """A frozen corpus (documents.parquet) behind the split index, a
    held-out eval set (eval.parquet), and `batches` staged JSON-lines files
    of `per_batch` HTML pages each. Pages are fresh Zipf docs, near-dups of
    corpus docs (10%), quotes of eval docs (2%, rejected as contaminated),
    gibberish (2%, rejected by the LM) and 2-token pages (2%, quarantined)."""
    r = _rng(seed, 4)
    cols, stats = _docs(r, corpus_docs)
    _write(_docs_table(*cols), f"{out}/documents.parquet")
    texts = cols[1]
    tok = _Tokens(r)
    evals = [" ".join(tok.take(int(r.integers(30, 60)))) for _ in range(eval_docs)]
    _write(pa.table({"text": pa.array(evals, pa.string())}), f"{out}/eval.parquet")
    stage = f"{out}/staged"
    os.makedirs(stage)
    next_id = 10_000_000
    kinds = {"fresh": 0, "near_dup": 0, "eval_quote": 0, "gibberish": 0, "short": 0}
    for b in range(batches):
        lines = []
        for _ in range(per_batch):
            u = r.random()
            if u < 0.10:
                toks = texts[int(r.integers(0, corpus_docs))].split(" ")
                toks[int(r.integers(0, len(toks)))] = tok.take(1)[0]
                text, kind = " ".join(toks), "near_dup"
            elif u < 0.12:
                text, kind = evals[int(r.integers(0, eval_docs))], "eval_quote"
            elif u < 0.14:
                text = " ".join(f"zzqx{int(v)}" for v in r.integers(0, 10**6, 30))
                kind = "gibberish"
            elif u < 0.16:
                text, kind = "too short", "short"
            else:
                text, kind = " ".join(tok.take(int(r.integers(19, 91)))), "fresh"
            kinds[kind] += 1
            lines.append(json.dumps({"doc_id": next_id, "html": _page(next_id, text, r)}))
            next_id += 1
        with open(f"{stage}/batch-{b:05d}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
    total = batches * per_batch
    stats.update({"pages_per_batch": per_batch, "batches_staged": batches,
                  "eval_docs": eval_docs},
                 **{f"page_{k}_share": round(v / total, 4) for k, v in kinds.items()})
    return stats


# Suburb names the dashboard star schema holds for every seed: EV suburbs,
# electricity names (composites split on '+') and the mapped NO2 sites.
STAR_SUBURBS = (["Alexandria", "Rozelle", "Sydney", "Newtown", "Glebe", "Earlwood",
                 "Randwick", "Macquarie Park", "Parramatta"]
                + [f"NATION_{i}" for i in range(25)])
TILES = ["kpis", "evBySuburb", "suburbDrilldown", "no2ChangeSorted", "combined", "radar"]
TPCH_QUERIES = ["q146_tpch_q1", "q147_tpch_q6", "q148_tpch_q18", "q168_tpch_q14",
                "q175_tpch_q4", "q176_tpch_q12", "q198_tpch_q5", "q199_tpch_q10",
                "q212_tpch_q7", "q213_tpch_q8", "q214_tpch_q13", "q215_tpch_q17",
                "q216_tpch_q19", "q217_tpch_q22", "q226_tpch_q3", "q227_tpch_q15",
                "q229_tpch_q2", "q230_tpch_q9", "q231_tpch_q11", "q232_tpch_q16",
                "q233_tpch_q20", "q235_tpch_q21"]


# One round of dashboard requests: every tile and 14 of the 22 SQL texts,
# once each. The round repeats until the time is up; the warm-up runs every
# shape in it. With all 22 texts a 12 s run reached only 11-18 requests and
# never timed the round's tail, so the eight SQL texts that cost most at
# sf0.02 are left out of the round. Every tile
# comes within the first 11 requests, radar and combined within the first
# four, so even a short traced half times the tiles. The order is chosen so
# that every prefix of six or more requests costs within 5% of the round's
# mean per request (per-shape medians measured at sf0.02), so a
# time-bounded run times the same mix whatever the number of ops it reaches.
ROUND = ["kpis", "q235_tpch_q21", "combined", "radar", "q198_tpch_q5", "evBySuburb",
         "q226_tpch_q3", "suburbDrilldown", "q217_tpch_q22", "q215_tpch_q17",
         "no2ChangeSorted", "q214_tpch_q13", "q216_tpch_q19", "q213_tpch_q8",
         "q147_tpch_q6", "q176_tpch_q12", "q175_tpch_q4", "q168_tpch_q14",
         "q199_tpch_q10", "q212_tpch_q7"]
ROUND_LEFT_OUT = ["q146_tpch_q1", "q148_tpch_q18", "q227_tpch_q15", "q229_tpch_q2",
                  "q230_tpch_q9", "q231_tpch_q11", "q232_tpch_q16", "q233_tpch_q20"]
assert sorted(ROUND + ROUND_LEFT_OUT) == sorted(TILES + TPCH_QUERIES)


def gen_requests(out, seed):
    """The dashboard's request sequence, one `kind<TAB>name<TAB>arg` line per
    request, in ROUND's order. The order is the same for every seed, so runs
    with different seeds time the same request shapes; the seed picks the
    drilldown suburb and the radar selection (and, through the tables,
    every result)."""
    r = _rng(seed, 5)
    lines = []
    for name in ROUND:
        if name not in TILES:
            lines.append(f"sql\t{name}\t")
            continue
        arg = ""
        if name == "suburbDrilldown":
            arg = STAR_SUBURBS[int(r.integers(0, len(STAR_SUBURBS)))]
        elif name == "radar":
            k = int(r.integers(2, 6))
            arg = "|".join(sorted(r.choice(STAR_SUBURBS, size=k, replace=False)))
        lines.append(f"tile\t{name}\t{arg}")
    with open(f"{out}/requests.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"requests": len(lines)}


GENERATORS = {
    "dashboard_sql": lambda out, seed: {
        "tpch": gen_tpch(f"{out}/tpch", seed),
        "etl": gen_etl(f"{out}/trio", seed),
        "requests": gen_requests(out, seed)},
    "web_ingest_stream": lambda out, seed: {"pages": gen_pages(out, seed)},
}


def generate(workload, out, seed):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    return GENERATORS[workload](out, seed)
