"""Output checks for one benchmark run, made outside the timed regions.

Each check compares what the program produced with an independent expectation
and returns a failure message per wrong request, or per kind of wrong batch
output, so a wrong output counts as a failed op. `check_pipeline` and `check_serve` read a run directory; the
latter also derives the serving metrics from the raw client records.
"""

import csv
import io
import json
import math
import os
import statistics

import pyarrow.parquet as pq

BATCH_ROWS = 1000


def read_predictions(path):
    t = pq.read_table(path, columns=["id_annonce", "prediction_price"]).to_pydict()
    return dict(zip(t["id_annonce"], t["prediction_price"]))


def read_csv_column(path, column, cast=int):
    with open(path, newline="", encoding="utf-8") as f:
        return [cast(r[column]) for r in csv.DictReader(f)]


def close(a, b, rel=1e-9):
    return a is not None and b is not None and abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def rmse(pairs):
    pairs = list(pairs)
    return math.sqrt(sum((a - b) ** 2 for a, b in pairs) / len(pairs)) if pairs else float("nan")


def check_predictions(preds, test_ids, prices):
    """Batch predictions: one finite, positive price per test row and no other.

    Returns (failures, RMSE in euros against the true test prices).
    """
    failures = []
    missing = [i for i in test_ids if i not in preds]
    if missing:
        failures.append(f"batch predictions: {len(missing)} of {len(test_ids)} test rows missing")
    extra = set(preds) - set(test_ids)
    if extra:
        failures.append(f"batch predictions: {len(extra)} rows not in the test split")
    bad = [i for i, p in preds.items() if p is None or not math.isfinite(p) or p <= 0]
    if bad:
        failures.append(f"batch predictions: {len(bad)} non-finite or non-positive")
    bad = set(bad)
    return failures, rmse((preds[i], prices[i]) for i in test_ids if i in preds and i not in bad)


def check_agreement(expected, got, what):
    """Every row of `got` equals `expected` for the same id (relative 1e-9)."""
    wrong = [i for i, p in got.items() if not close(expected.get(i), p)]
    return [f"{what}: {len(wrong)} of {len(got)} rows disagree (e.g. id {wrong[0]})"] if wrong else []


def check_single(records, preds):
    """Single-row responses: each must be a 200 whose price equals the batch
    prediction for its row. Returns (failures, latencies in ms of all records).
    """
    failures, lat = [], []
    for rid, status, latency_us, price in records:
        lat.append(latency_us / 1e3)
        if status != 200:
            failures.append(f"/predict id {rid}: status {status}")
        elif price == "null" or not close(preds.get(rid), float(price) if price != "?" else None):
            failures.append(f"/predict id {rid}: {price} != batch {preds.get(rid)}")
    return failures, lat


def check_batch(body, expected_ids, preds, what):
    """A /predict/batch CSV: the slice's rows, each equal to the batch
    prediction rounded to 2 decimals.
    """
    try:
        rows = list(csv.DictReader(io.StringIO(body)))
        got = {int(r["id_annonce"]): float(r["prediction_price"]) for r in rows}
    except (KeyError, ValueError, TypeError) as e:
        return [f"{what}: unreadable response ({e})"]
    if len(rows) != len(expected_ids) or set(got) != set(expected_ids):
        return [f"{what}: {len(rows)} rows, expected {len(expected_ids)}"]
    wrong = [i for i, p in got.items() if preds.get(i) is None or abs(p - round(preds[i], 2)) > 0.0100001]
    return [f"{what}: {len(wrong)} values differ from the batch predictions"] if wrong else []


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


class Result:
    def __init__(self):
        self.failures = []
        self.layers = {}


def _read_json(path):
    with open(path) as f:
        return json.load(f)


def _read_id_prices(path, column="prediction_price"):
    with open(path, newline="", encoding="utf-8") as f:
        return {int(r["id_annonce"]): (None if r[column] == "null" else float(r[column]))
                for r in csv.DictReader(f)}


def _check_singles(r, run_dir, preds):
    """Checks the `/predict` records of a run against `preds` and sets the
    single-row metrics on `r`; returns the records."""
    records = []
    with open(os.path.join(run_dir, "single.tsv")) as fh:
        for line in fh:
            if line.strip():
                rid, status, us, price = line.rstrip("\n").split("\t")
                records.append((int(rid), int(status), int(us), price))
    f, lat = check_single(records, preds)
    r.failures += f
    with open(os.path.join(run_dir, "load.json")) as fh:
        window = json.load(fh)["window_s"]
    r.single_n = len(lat)
    r.single_p50_ms = statistics.median(lat) if lat else float("nan")
    r.single_p95_ms = percentile(lat, 95) if lat else float("nan")
    r.single_rps = len(lat) / window
    return records


def check_pipeline(run_dir):
    """The pipeline workload: batch predictions for every test row, the
    reloaded model equal to the in-memory one, PreparedPredictor equal to the
    batch path on every row, and every `/predict` answer equal to it too."""
    r = Result()
    y = os.path.join(run_dir, "data", "y_test.csv")
    test_ids = read_csv_column(y, "id_annonce")
    prices = dict(zip(test_ids, read_csv_column(y, "price", float)))
    preds = read_predictions(os.path.join(run_dir, "predictions.parquet"))
    f, r.rmse_eur = check_predictions(preds, test_ids, prices)
    r.failures += f
    r.rows = len(test_ids)
    r.failures += check_agreement(
        preds, read_predictions(os.path.join(run_dir, "predictions_in_memory.parquet")),
        "reloaded vs in-memory model")
    single = _read_id_prices(os.path.join(run_dir, "single_predictions.csv"))
    r.failures += [f"PreparedPredictor id {i}: {p} != batch {preds.get(i)}"
                   for i, p in single.items() if not close(preds.get(i), p)]
    if len(single) != len(test_ids):
        r.failures.append(f"PreparedPredictor: {len(single)} rows, expected {len(test_ids)}")
    _check_singles(r, run_dir, preds)
    return r


def check_serve(run_dir, fixture_dir, order):
    """The serve workload: each /predict answer equals the fixture's batch
    prediction for its row, each /predict/batch CSV holds its slice's rows at
    2 decimals. Also derives the serving metrics from the client records; the
    RMSE covers every row the server answered, single or batch."""
    r = Result()
    preds = read_predictions(os.path.join(fixture_dir, "predictions.parquet"))
    y = os.path.join(fixture_dir, "data", "y_test.csv")
    prices = dict(zip(read_csv_column(y, "id_annonce"), read_csv_column(y, "price", float)))

    records = _check_singles(r, run_dir, preds)

    batch_lat, late, served = [], [], {}
    with open(os.path.join(run_dir, "batch.tsv")) as fh:
        for k, line in enumerate(x for x in fh if x.strip()):
            slice_no, status, ms, late_ms = line.rstrip("\n").split("\t")
            batch_lat.append(float(ms))
            late.append(float(late_ms))
            start = int(slice_no) * BATCH_ROWS % len(order)
            expected = [order[(start + i) % len(order)] for i in range(BATCH_ROWS)]
            if int(status) != 200:
                r.failures.append(f"/predict/batch {k}: status {status}")
                continue
            with open(os.path.join(run_dir, f"batch_{k}.csv"), encoding="utf-8") as bf:
                body = bf.read()
            failed = check_batch(body, expected, preds, f"/predict/batch {k}")
            r.failures += failed
            if not failed:
                served.update((int(x["id_annonce"]), float(x["prediction_price"]))
                              for x in csv.DictReader(io.StringIO(body)))
    served.update((rid, float(p)) for rid, status, _, p in records
                  if status == 200 and p not in ("null", "?"))
    r.rows = len(served)
    r.rmse_eur = rmse((p, prices[i]) for i, p in served.items())
    r.batch_n = len(batch_lat)
    r.batch_p50_ms = statistics.median(batch_lat) if batch_lat else float("nan")
    r.layers["serve.batch_late_ms"] = statistics.median(late) if late else float("nan")
    # the server's Spark counters at the start and end of the window, which
    # only traced runs snapshot
    c0, c1 = (os.path.join(run_dir, f"serve_counters_{w}.json") for w in ("start", "end"))
    if os.path.exists(c0) and os.path.exists(c1):
        c0, c1 = _read_json(c0), _read_json(c1)
        for k in ("jobs", "tasks", "cpu_s", "files_written"):
            r.layers[f"serve.batch.{k}"] = c1[k] - c0[k]
        for k in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
            r.layers[f"spark.{'executor_cpu_s' if k == 'cpu_s' else k}"] = c1[k] - c0[k]
    probe = os.path.join(run_dir, "probe_predictions.csv")
    if os.path.exists(probe):
        r.failures += check_agreement(preds, _read_id_prices(probe), "PreparedPredictor vs batch")
    return r
