"""Self-tests of the benchmark's checks: each one passes on a correct
result and rejects a perturbed one.  No Spark is started.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, errors: list[str], ok: bool) -> None:
    if bool(errors) == ok:
        FAILURES.append(f"{name}: {'rejected a correct' if ok else 'accepted a perturbed'}"
                        f" result {errors[:2]}")
    print(f"{'ok  ' if bool(errors) != ok else 'FAIL'} {name}")


def write_output(out: str, truth: dict, *, drop=None, dup=None,
                 stats_delta=0) -> None:
    """An ingest output laid out as the pipeline lays it out, made from
    the ground truth, with optional damage."""
    routed = truth["sink"] != ""
    ids = list(truth["doc_id"][routed])
    sinks = list(truth["sink"][routed])
    dates = list(truth["log_date"][routed])
    if drop is not None:
        k = ids.index(drop)
        del ids[k], sinks[k], dates[k]
    if dup is not None:
        k = ids.index(dup)
        ids.append(ids[k]), sinks.append(sinks[k]), dates.append(dates[k])
    for s, d in sorted(set(zip(sinks, dates))):
        part = os.path.join(out, "routed", "batch_id=batch-00000",
                            f"sink_id={s}", f"log_date={d}")
        os.makedirs(part)
        pq.write_table(pa.table({"doc_id": [i for i, s2, d2 in zip(ids, sinks, dates)
                                            if (s2, d2) == (s, d)]}),
                       os.path.join(part, "part-00000.parquet"))
    dlq = os.path.join(out, "parse_failures", "batch_id=batch-00000")
    os.makedirs(dlq)
    pq.write_table(pa.table({"doc_id": list(truth["doc_id"][~routed])}),
                   os.path.join(dlq, "part-00000.parquet"))
    stats = checks.expected_sink_stats(truth)
    keys = sorted(stats)
    sd = os.path.join(out, "sink_stats", "batch_id=batch-00000")
    os.makedirs(sd)
    pq.write_table(pa.table({
        "sink_id": keys,
        "event_count": [stats[k][0] + (stats_delta if k == keys[0] else 0)
                        for k in keys],
        "token_total": [stats[k][1] for k in keys],
    }), os.path.join(sd, "part-00000.parquet"))


def main() -> int:
    rows = gen.make_rows(5, 0, 2_000, gen.make_pods(5))
    truth = {c: rows[c] for c in gen.TRUTH_COLUMNS}
    n, bad = len(truth["doc_id"]), int(truth["struct"].sum())
    some = truth["doc_id"][truth["sink"] != ""][17]
    base = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=base, prefix="selftest-")
    try:
        cases = {"correct": {}, "sink count off by one": {"stats_delta": 1},
                 "dropped doc_id": {"drop": some},
                 "duplicated doc_id": {"dup": some}}
        for name, damage in cases.items():
            out = os.path.join(tmp, name.replace(" ", "_"))
            write_output(out, truth, **damage)
            expect(f"ingest: {name}",
                   checks.check_ingest(out, truth, n, n - bad, bad),
                   ok=not damage)
        # the quarantine copies tail_microbatch makes in set-up repeat
        # doc_ids; only the run's own generations are checked
        out = os.path.join(tmp, "correct")
        shutil.copytree(os.path.join(out, "parse_failures", "batch_id=batch-00000"),
                        os.path.join(out, "parse_failures", "batch_id=hist-000001"))
        expect("ingest: set-up quarantine copies left out",
               checks.check_ingest(out, truth, n, n - bad, bad,
                                   dlq_batches={"batch-00000"}), ok=True)
        expect("ingest: quarantine rows repeated",
               checks.check_ingest(out, truth, n, n - bad, bad), ok=False)
        shutil.rmtree(os.path.join(out, "parse_failures", "batch_id=hist-000001"))
        expect("ingest: rows lost before routing",
               checks.check_conservation(n, n - bad - 1, bad, truth), ok=False)
        moved = checks.read_rows(os.path.join(tmp, "correct", "routed"))
        moved["sink_id"] = moved["sink_id"].copy()
        moved["sink_id"][5] = "logs-elsewhere"
        expect("ingest: row under the wrong sink",
               checks.check_routing(moved, truth), ok=False)

        ids = truth["doc_id"][truth["sink"] != ""]
        polls = [(["b0"], ids[:900], np.full(900, "b0", dtype=object)),
                 (["b1"], ids[900:], np.full(len(ids) - 900, "b1", dtype=object))]
        expect("deliveries: correct",
               checks.check_deliveries(polls, ["b0", "b1"], ids), ok=True)
        expect("deliveries: batch delivered twice",
               checks.check_deliveries(polls + [polls[1]], ["b0", "b1"], ids),
               ok=False)
        expect("deliveries: row dropped",
               checks.check_deliveries([polls[0], (["b1"], ids[901:],
                                                   polls[1][2][1:])],
                                       ["b0", "b1"], ids), ok=False)
        expect("scan: count off by one", checks.check_scan("s", 41, 42), ok=False)

        from logfowd2_spark.plans.compare import canon  # noqa: PLC0415

        got = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
        oracle = canon(got)
        expect("query: correct", checks.check_query("q", got, oracle), ok=True)
        changed = oracle.copy()
        changed.loc[1, "v"] = "1.26"
        expect("query: oracle row changed",
               checks.check_query("q", got, changed), ok=False)
        expect("query: row missing",
               checks.check_query("q", got.iloc[:2], oracle), ok=False)

        mp = os.path.join(tmp, "manifest.json")
        recs = {b: {"rows_in": 10} for b in ("h0", "h1", "b2", "b3")}
        import json  # noqa: PLC0415

        with open(mp, "w") as fh:
            json.dump({"data": {"batches": recs,
                                "order": ["h0", "h1", "b2", "b3"]}}, fh)
        expect("history: correct",
               checks.check_history(mp, ["h0", "h1"], ["b2", "b3"], 10), ok=True)
        expect("history: record missing",
               checks.check_history(mp, ["h0", "h1", "h2"], ["b2", "b3"], 10),
               ok=False)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for f in FAILURES:
        print(f, file=sys.stderr)
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
