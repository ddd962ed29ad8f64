"""Tests of the benchmark's own checks: each passes on right outputs and fails
on a wrong one, so no check is vacuous, and a traced run that misses a
per-layer metric its workload must produce is caught. Also pins the listings
generator's determinism and label coverage.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import csv
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import listings
import run

IDS = [10, 11, 12, 13]
PRICES = {10: 100000.0, 11: 250000.0, 12: 80000.0, 13: 1200000.0}
PREDS = {10: 110000.123456, 11: 240000.5, 12: 90000.004, 13: 1000000.0}


def write_parquet(path, preds):
    pq.write_table(pa.table({"id_annonce": list(preds), "prediction_price": list(preds.values())}), path)


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def batch_body(preds, ids):
    return "id_annonce,prediction_price\n" + "".join(f"{i},{preds[i]:.2f}\n" for i in ids)


class UnitChecks(unittest.TestCase):
    def test_predictions(self):
        self.assertEqual(checks.check_predictions(PREDS, IDS, PRICES)[0], [])
        for wrong in ({k: v for k, v in PREDS.items() if k != 12},       # a row missing
                      {**PREDS, 99: 1.0},                          # a foreign row
                      {**PREDS, 11: -5.0},                         # non-positive
                      {**PREDS, 11: float("nan")},                 # non-finite
                      {**PREDS, 11: float("inf")}):
            self.assertTrue(checks.check_predictions(wrong, IDS, PRICES)[0], wrong)

    def test_rmse_is_euros(self):
        _, rmse = checks.check_predictions({10: 100010.0, 11: 249990.0, 12: 80010.0, 13: 1199990.0},
                                           IDS, PRICES)
        self.assertAlmostEqual(rmse, 10.0)

    def test_agreement(self):
        self.assertEqual(checks.check_agreement(PREDS, dict(PREDS), "x"), [])
        self.assertTrue(checks.check_agreement(PREDS, {**PREDS, 13: 1000000.01}, "x"))
        self.assertTrue(checks.check_agreement(PREDS, {77: 1.0}, "x"))

    def test_single(self):
        good = [(i, 200, 1500, repr(PREDS[i])) for i in IDS]
        self.assertEqual(checks.check_single(good, PREDS)[0], [])
        self.assertEqual(checks.check_single(good, PREDS)[1], [1.5] * 4)
        for bad in ((11, 500, 10, "?"), (11, 200, 10, "null"), (11, 200, 10, "240000.6"),
                    (11, -1, 10, "ConnectException")):
            self.assertEqual(len(checks.check_single(good[:1] + [bad], PREDS)[0]), 1, bad)

    def test_batch(self):
        self.assertEqual(checks.check_batch(batch_body(PREDS, IDS), IDS, PREDS, "b"), [])
        self.assertTrue(checks.check_batch(batch_body(PREDS, IDS[:3]), IDS, PREDS, "b"))
        self.assertTrue(checks.check_batch(batch_body(PREDS, IDS), IDS[:3] + [99], PREDS, "b"))
        off = {**PREDS, 12: PREDS[12] + 0.02}
        self.assertTrue(checks.check_batch(batch_body(off, IDS), IDS, PREDS, "b"))
        self.assertTrue(checks.check_batch('{"error":"boom"}', IDS, PREDS, "b"))

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(checks.percentile(xs, 50), 50)
        self.assertEqual(checks.percentile(xs, 95), 95)
        self.assertEqual(checks.percentile([7.0], 95), 7.0)


class RunDirChecks(unittest.TestCase):
    """check_pipeline / check_serve over small run directories."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.dir)

    def pipeline_dir(self, preds=PREDS, memory=PREDS, single=PREDS, served=PREDS):
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        with open(os.path.join(self.dir, "single.tsv"), "w") as f:
            f.writelines(f"{i}\t200\t48000\t{p!r}\n" for i, p in served.items())
        with open(os.path.join(self.dir, "load.json"), "w") as f:
            json.dump({"window_s": 2.0}, f)
        write_csv(os.path.join(self.dir, "data", "y_test.csv"), ["id_annonce", "price"],
                  [(i, PRICES[i]) for i in IDS])
        write_parquet(os.path.join(self.dir, "predictions.parquet"), preds)
        write_parquet(os.path.join(self.dir, "predictions_in_memory.parquet"), memory)
        write_csv(os.path.join(self.dir, "single_predictions.csv"), ["id_annonce", "prediction_price"],
                  [(i, repr(p)) for i, p in single.items()])
        return self.dir

    def test_pipeline(self):
        self.assertEqual(checks.check_pipeline(self.pipeline_dir()).failures, [])
        shifted = {k: v * 1.001 for k, v in PREDS.items()}
        self.assertTrue(checks.check_pipeline(self.pipeline_dir(memory=shifted)).failures)
        self.assertTrue(checks.check_pipeline(self.pipeline_dir(single=shifted)).failures)
        self.assertTrue(checks.check_pipeline(self.pipeline_dir(single={10: PREDS[10]})).failures)
        self.assertTrue(checks.check_pipeline(self.pipeline_dir(preds={**PREDS, 10: 0.0})).failures)
        self.assertTrue(checks.check_pipeline(self.pipeline_dir(served={**PREDS, 11: 1.0})).failures)

    def serve_dirs(self, single_price=None, batch_preds=PREDS):
        base = tempfile.mkdtemp(dir=self.dir)
        fixture = os.path.join(base, "fixture")
        run = os.path.join(base, "run")
        os.makedirs(os.path.join(fixture, "data"))
        os.makedirs(run)
        write_csv(os.path.join(fixture, "data", "y_test.csv"), ["id_annonce", "price"],
                  [(i, PRICES[i]) for i in IDS])
        write_parquet(os.path.join(fixture, "predictions.parquet"), PREDS)
        with open(os.path.join(run, "single.tsv"), "w") as f:
            for i in IDS:
                f.write(f"{i}\t200\t48000\t{single_price or repr(PREDS[i])}\n")
        with open(os.path.join(run, "load.json"), "w") as f:
            json.dump({"window_s": 2.0}, f)
        # one batch, slice 1 of size BATCH_ROWS over the 4-row order
        order = IDS
        with open(os.path.join(run, "batch.tsv"), "w") as f:
            f.write("1\t200\t1500.0\t0.5\n")
        start = checks.BATCH_ROWS % len(order)
        expected = [order[(start + k) % len(order)] for k in range(checks.BATCH_ROWS)]
        body = "id_annonce,prediction_price\n" + "".join(f"{i},{batch_preds[i]:.2f}\n" for i in expected)
        with open(os.path.join(run, "batch_0.csv"), "w") as f:
            f.write(body)
        return run, fixture, order

    def test_serve(self):
        r = checks.check_serve(*self.serve_dirs())
        self.assertEqual(r.failures, [])
        self.assertEqual((r.single_n, r.batch_n, r.single_rps), (4, 1, 2.0))
        self.assertEqual(r.batch_p50_ms, 1500.0)
        self.assertTrue(checks.check_serve(*self.serve_dirs(single_price="1.0")).failures)

    def test_serve_batch_values(self):
        wrong = {**PREDS, 11: PREDS[11] + 5}
        self.assertTrue(checks.check_serve(*self.serve_dirs(batch_preds=wrong)).failures)


class PerLayer(unittest.TestCase):
    NAMES = list(run.per_layer_units())

    def test_pipeline(self):
        full = {k: 1.0 for k in self.NAMES if k not in run.SERVE_BATCH}
        self.assertEqual(run.missing_layers("pipeline", self.NAMES, full), [])
        del full["ml.fit_s"]
        self.assertEqual(run.missing_layers("pipeline", self.NAMES, full), ["ml.fit_s"])

    def test_serve(self):
        full = {k: 1.0 for k in run.SERVE_LAYERS}
        self.assertEqual(run.missing_layers("serve", self.NAMES, full), [])
        del full["serve.batch.jobs"]
        self.assertEqual(run.missing_layers("serve", self.NAMES, full), ["serve.batch.jobs"])

    def test_names_declared(self):
        self.assertLessEqual(set(run.SERVE_LAYERS), set(self.NAMES))


class Listings(unittest.TestCase):
    def test_seeded(self):
        a, _, pa_ = listings.generate(5, 300)
        b, _, pb = listings.generate(5, 300)
        c, _, pc = listings.generate(6, 300)
        self.assertEqual(list(pa_), list(pb))
        self.assertNotEqual(list(pa_), list(pc))
        self.assertEqual(a["city"], b["city"])

    def test_train_covers_test_labels(self):
        train, _, _ = listings.generate(1, 2000)
        test, _, _ = listings.generate(2, 2000)
        for col in ("property_type", "energy_performance_category", "ghg_category", "exposition"):
            self.assertLessEqual(set(test[col]), set(train[col]), col)

    def test_prices_positive_and_learnable(self):
        cols, nulls, price = listings.generate(3, 5000)
        self.assertTrue((price > 0).all())
        self.assertGreater(nulls["floor"].mean(), 0.5)
        big = cols["size"] > 150
        self.assertGreater(price[big].mean(), 2 * price[~big].mean())


if __name__ == "__main__":
    unittest.main()
