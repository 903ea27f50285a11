"""A planted wrong result must fail the oracle pass."""
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


def star(con):
    """A tiny star schema with the ETL's column names and types."""
    con.execute("""CREATE TABLE dim_suburb AS SELECT * FROM (VALUES
        (1, 'Glebe'), (2, 'Sydney'), (3, 'Rozelle')) t(id_suburb, SUBURB_NAME)""")
    con.execute("""CREATE TABLE fact_ev_impact AS SELECT * FROM (VALUES
        (1, 1, 2023, 10.0, 6.0, 4.0, 300.5, 41000.25, 9.5),
        (2, 2, 2023, 20.0, 5.0, 15.0, 410.0, 52000.0, 21.0),
        (3, 3, 2023, 5.0, 5.0, 0.0, 0.0, 0.0, 5.0))
        t(fact_ev_impact_id, id_suburb, "YEAR", TOTAL_EVS, BEV_COUNT, PHEV_COUNT,
          AVG_RANGE_KM, AVG_PRICE, EV_ADOPTION_SCORE)""")
    con.execute("""CREATE TABLE fact_energy_pollution AS SELECT * FROM (VALUES
        (1, 1, 2023, 1200.0, 3.5, 21.0, 2.0, 10.5, 1.25, 0.5),
        (2, 2, 2023, 900.0, -1.0, 19.0, 1.0, 5.5, 2.5, 0.25),
        (3, 3, 2023, 700.0, 0.0, 15.0, 0.0, 0.0, 3.0, 0.125),
        (4, 1, 2022, 1100.0, 0.0, 19.0, 0.0, 0.0, 1.0, 0.5))
        t(fact_energy_pollution_id, id_suburb, "YEAR", ENERGY_CONSUMPTION,
          ENERGY_CHANGE_PCT, NO2_LEVEL, NO2_CHANGE, NO2_CHANGE_PCT,
          EV_PER_ENERGY_UNIT, NO2_PER_EV)""")


def as_records(df):
    """Rows as Spark's JSON writer renders them (NULL fields omitted)."""
    return [json.loads(json.dumps({k: v for k, v in r.items() if pd.notna(v)}))
            for r in df.to_dict("records")]


class DashboardOracle(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        star(self.con)

    def check(self, tile, arg, records):
        want = self.con.execute(oracle.tile_sql(tile, arg)).fetchdf()
        got, problem = oracle.records_frame(records, want)
        return [problem] if problem else oracle.compare(got, want, check_dtypes=False)

    def test_correct_records_pass(self):
        for tile, arg in [("kpis", ""), ("evBySuburb", ""), ("combined", ""),
                          ("suburbDrilldown", "Glebe"), ("no2ChangeSorted", ""),
                          ("radar", "Glebe|Sydney")]:
            want = self.con.execute(oracle.tile_sql(tile, arg)).fetchdf()
            recs = as_records(want.sample(frac=1.0, random_state=3))  # any row order
            self.assertEqual(self.check(tile, arg, recs), [], tile)

    def test_planted_wrong_value_is_caught(self):
        want = self.con.execute(oracle.tile_sql("combined", "")).fetchdf()
        recs = as_records(want)
        recs[1]["EV_ADOPTION_NORMALIZED"] += 1e-9
        self.assertTrue(self.check("combined", "", recs))

    def test_planted_missing_row_and_wrong_type_are_caught(self):
        want = self.con.execute(oracle.tile_sql("evBySuburb", "")).fetchdf()
        self.assertTrue(self.check("evBySuburb", "", as_records(want)[:-1]))
        recs = as_records(want)
        recs[0]["TOTAL_EVS"] = int(recs[0]["TOTAL_EVS"])  # a double rendered as an int
        self.assertTrue(self.check("evBySuburb", "", recs))


class WebOracle(unittest.TestCase):
    def test_planted_divergence_fails_its_batch_op(self):
        with tempfile.TemporaryDirectory() as d:
            rows = pd.DataFrame({
                "doc_id": [1, 2, 3, 4], "cluster": [1, 1, None, 4],
                "n_clusters": [1, 1, None, 1], "split": ["train", "train", None, "val"],
                "violations": [[], [], ["tokens_min_3"], []],
                "disposition": ["admit", "admit", "quarantine", "admit"]})
            for name, frame in (("stream", rows), ("batch", rows)):
                os.makedirs(f"{d}/{name}")
                frame.to_parquet(f"{d}/{name}/part-0.parquet")
            os.makedirs(f"{d}/in")
            for f, ids in (("a.json", [1, 2]), ("b.json", [3, 4])):
                with open(f"{d}/in/{f}", "w") as fh:
                    fh.write("\n".join(json.dumps({"doc_id": i, "html": "x"}) for i in ids))
            manifest = {"stream_out": f"{d}/stream", "batch_out": f"{d}/batch",
                        "in_dir": f"{d}/in",
                        "fed": [{"op": 0, "file": "a.json"}, {"op": 1, "file": "b.json"}]}
            self.assertEqual(oracle.check_web(manifest, lambda m: None), ([], False))
            bad = rows.copy()
            bad.loc[3, "split"] = "test"
            bad.to_parquet(f"{d}/stream/part-0.parquet")
            self.assertEqual(oracle.check_web(manifest, lambda m: None), ([1], False))


if __name__ == "__main__":
    unittest.main()
