"""The four workloads.  Each one runs whole rounds of the same
operations until ``--seconds`` have passed, checks every output against
the generator's ground truth or the DuckDB oracles, and returns its
samples.  They call only the program's public entry points:
``streaming.pipeline.run_pipeline`` / ``scan_routed``,
``streaming.follower.poll`` / ``commit_cursor`` and
``plans.catalog.queries``.
"""

from __future__ import annotations

import dataclasses
import datetime
import glob
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

#: the headline queries ``bench.py`` times, fixed here so the per-layer
#: metric names stay the same whatever later changes bench.py
HEADLINE = [
    "flagship_pipeline", "flagship_pipeline_arrow", "q1_pricing_summary",
    "q3_topk_revenue", "pipe_route_by_source_level", "window_top3_per_group",
    "dedup_exact_fingerprint", "ngram_jaccard_pairs", "minhash_signatures",
    "lsh_verified_dups", "lsh_dup_clusters", "lsh_incremental_dups",
    "embedding_cosine_dups", "simhash_fingerprint", "pipe_sanitize_utf8",
    "pipe_batch_size_hist", "pii_redact", "tfidf_top_terms",
    "ann_cosine_topk", "ann_ivf_topk", "asof_join_last_purchase",
    "window_sessionize",
]

# Sizes.  They fit the three benchmarked workloads, ten seeds each, twice
# over, in under an hour on a 4-core host (README.md, "Sizes").
BACKFILL_ROWS = 200_000
BACKFILL_FILES = 8
#: timed samples per run at the least: their median is the run's figure
MIN_SAMPLES = 3
#: a tail batch costs 6-9 s over the 10,000-commit history, so two
TAIL_SAMPLES = 2
TAIL_ROWS = 10_000
TAIL_HISTORY = 10_000       # ~3.5 days of commits every 30 s
TABLE_SEED = 7
TABLE_BATCHES = 16
TABLE_STEP_S = 3            # ~8 h of log time per 10k-row batch
WARMUP_ROUNDS = 3
POLL_BATCHES = 4
RANGE_ROWS = 20_000


def _cached(path: str, build) -> str:
    """``path`` filled once by ``build(path)``; a ``_DONE`` marker
    written last tells a finished cache from one a killed run left."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def _load_truth(path: str) -> dict[str, np.ndarray]:
    tbl = pq.read_table(path)
    return {c: tbl.column(c).to_numpy(zero_copy_only=False)
            for c in tbl.column_names}


def _concat_truth(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _write_input(d: str, seed: int, n_rows: int, n_files: int,
                 step_s: int = 1) -> None:
    """``seq/part-*.parquet``, pods, routes and ``truth.parquet``."""
    pods = gen.make_pods(seed)
    gen.write_dims(d, pods)
    os.makedirs(os.path.join(d, "seq"))
    per = n_rows // n_files
    truth = []
    for f in range(n_files):
        rows = gen.make_rows(seed, f * per, per, pods, step_s)
        gen.write_sequences(os.path.join(d, "seq", f"part-{f:05d}.parquet"), rows)
        truth.append(gen.truth_table(rows))
    pq.write_table(pa.concat_tables(truth), os.path.join(d, "truth.parquet"))


def code_hash(root: str) -> str:
    """Digest of the program's source: a cached table written by other
    program code is never reused."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "logfowd2_spark", "**", "*.py"),
                            recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cfg(inp: str, out: str):
    from logfowd2_spark.config import PipelineConfig  # noqa: PLC0415

    return PipelineConfig(input_path=os.path.join(inp, "seq"),
                          output_path=os.path.join(out, "data"),
                          checkpoint_path=os.path.join(out, "ckpt"))


def _run_pipeline(spark, cfg, inp: str, **kw):
    from logfowd2_spark.streaming.pipeline import run_pipeline  # noqa: PLC0415

    return run_pipeline(spark, cfg, os.path.join(inp, "pods.parquet"),
                        os.path.join(inp, "routes.parquet"), **kw)


def _totals(ms) -> tuple[int, int, int]:
    return (sum(m.rows_in for m in ms), sum(m.rows_routed for m in ms),
            sum(m.parse_failures for m in ms))


# -- backfill ---------------------------------------------------------------

def backfill(run) -> None:
    """One batch over the whole backlog per round, into a fresh table."""
    inp = _cached(os.path.join(run.cache, f"backfill-g{gen.GEN_VERSION}-"
                                          f"s{run.seed}-n{BACKFILL_ROWS}"),
                  lambda d: _write_input(d, run.seed, BACKFILL_ROWS,
                                         BACKFILL_FILES))
    truth = _load_truth(os.path.join(inp, "truth.parquet"))
    spark = run.start_session(ingest=True)
    # one whole backlog batch first pays plan analysis, code generation
    # and most of the JIT's warm-up (the first batch of a session takes
    # about 1.5 times as long as the third)
    warm = os.path.join(run.work, "warmup")
    _run_pipeline(spark, _cfg(inp, warm), inp)
    shutil.rmtree(warm)
    run.min_ops = MIN_SAMPLES
    run.setup_done()

    bytes_per_row = []
    while run.more():
        out = os.path.join(run.work, f"round-{run.attempted}")
        cfg = _cfg(inp, out)
        ms = run.timed(lambda: _run_pipeline(spark, cfg, inp))
        run.codec = cfg.codec
        rows_in, routed, quarantined = _totals(ms)
        run.rates.append(rows_in / (run.op_ms[-1] / 1e3))
        run.errors += checks.check_ingest(cfg.output_path, truth, rows_in,
                                          routed, quarantined)
        if run.tracer:
            bytes_per_row.append(checks.table_bytes(
                os.path.join(cfg.output_path, "routed")) / max(routed, 1))
        shutil.rmtree(out)
    if run.tracer:
        run.layers.update(run.tracer.ingest_metrics(run.timed_ms))
        run.layers["write.routed_bytes_per_row"] = float(np.median(bytes_per_row))


# -- tail_microbatch --------------------------------------------------------

def _fill_quarantine(spark, cfg, history: list[str], per_gen: int) -> None:
    """The quarantine as a long-running forwarder leaves it: full to
    ``dlq_max_size``.  The cold batch's generation is copied under the
    newest historical ids, each copy half a minute older than the next,
    until the copies pass the cap; the program's own cap then drops the
    oldest rows, as it would have after those commits."""
    from logfowd2_spark.streaming.dlq import enforce_dlq_cap  # noqa: PLC0415

    dlq = os.path.join(cfg.output_path, "parse_failures")
    src = os.path.join(dlq, "batch_id=batch-00000")
    t_cold = min(os.path.getmtime(os.path.join(src, f))
                 for f in os.listdir(src) if f.endswith(".parquet"))
    n_gen = cfg.dlq_max_size // per_gen + 1
    for age, h in zip(range(n_gen, 0, -1), history[-n_gen:]):
        dst = os.path.join(dlq, f"batch_id={h}")
        shutil.copytree(src, dst)
        t = t_cold - 30 * age
        for f in os.listdir(dst):
            os.utime(os.path.join(dst, f), (t, t))
    enforce_dlq_cap(spark, dlq, cfg)


def tail_microbatch(run) -> None:
    """The forwarder's steady state: a checkpoint with days of history,
    then one 10k-row file arrives at a time and the pipeline commits it
    as one micro-batch."""
    from logfowd2_spark.streaming import checkpoint  # noqa: PLC0415

    inp = os.path.join(run.work, "in")
    pods = gen.make_pods(run.seed)
    os.makedirs(os.path.join(inp, "seq"))
    gen.write_dims(inp, pods)
    truth = []

    def arrive(k: int) -> None:
        rows = gen.make_rows(run.seed, k * TAIL_ROWS, TAIL_ROWS, pods)
        gen.write_sequences(os.path.join(inp, "seq", f"part-{k:05d}.parquet"),
                            rows)
        truth.append({c: rows[c] for c in gen.TRUTH_COLUMNS})

    spark = run.start_session(ingest=True)
    out = os.path.join(run.work, "table")
    cfg = _cfg(inp, out)
    # set-up: the cold batch, which pays plan analysis and code
    # generation, then the history
    arrive(0)
    totals = [_totals(_run_pipeline(spark, cfg, inp, files_per_batch=1,
                                    max_batches=1))]
    run.codec = cfg.codec
    # the history: the cold batch's record copied under historical ids,
    # committed before it
    mpath = os.path.join(cfg.checkpoint_path, "manifest.json")
    rec = checkpoint.load_manifest(mpath).batches["batch-00000"]
    man = checkpoint.Manifest()
    history = [f"hist-{h:06d}" for h in range(TAIL_HISTORY)]
    for h in history:
        man.record(dataclasses.replace(rec, batch_id=h))
    man.record(rec)
    checkpoint.save_manifest(man, mpath)
    _fill_quarantine(spark, cfg, history, totals[0][2])
    run.min_ops = TAIL_SAMPLES
    run.setup_done()

    new_ids = []
    while run.more():
        k = len(truth)
        arrive(k)
        ms = run.timed(lambda: _run_pipeline(spark, cfg, inp,
                                             files_per_batch=1, max_batches=1))
        totals.append(_totals(ms))
        run.rates.append(totals[-1][0] / (run.op_ms[-1] / 1e3))
        new_ids.append(f"batch-{k:05d}")
    all_truth = _concat_truth(truth)
    rows_in, routed, quarantined = (sum(t[i] for t in totals) for i in range(3))
    run.errors += checks.check_ingest(cfg.output_path, all_truth, rows_in,
                                      routed, quarantined,
                                      dlq_batches={"batch-00000", *new_ids})
    run.errors += checks.check_history(mpath, history + ["batch-00000"], new_ids,
                                       TAIL_ROWS)
    if run.tracer:
        run.layers.update(run.tracer.ingest_metrics(run.timed_ms))
        run.layers["checkpoint.bytes"] = os.path.getsize(mpath)
        run.layers["write.routed_bytes_per_row"] = checks.table_bytes(
            os.path.join(cfg.output_path, "routed")) / max(routed, 1)


# -- table_reads ------------------------------------------------------------

def _build_table(d: str, spark) -> None:
    _write_input(d, TABLE_SEED, TABLE_BATCHES * TAIL_ROWS, TABLE_BATCHES,
                 step_s=TABLE_STEP_S)
    cfg = _cfg(d, d)
    ms = _run_pipeline(spark, cfg, d, files_per_batch=1)
    errs = checks.check_ingest(cfg.output_path,
                               _load_truth(os.path.join(d, "truth.parquet")),
                               *_totals(ms))
    if errs:
        raise RuntimeError(f"table build is wrong: {errs[:3]}")


def table_reads(run) -> None:
    """Predicate scans and one consumer group over a routed table built
    by many micro-batches (cached per program source)."""
    from logfowd2_spark.streaming import follower  # noqa: PLC0415
    from logfowd2_spark.streaming.pipeline import scan_routed  # noqa: PLC0415

    spark = run.start_session(ingest=False)
    d = _cached(os.path.join(run.cache, f"table-g{gen.GEN_VERSION}-"
                                        f"c{code_hash(run.root)}"),
                lambda d: _build_table(d, spark))
    cfg = _cfg(d, d)
    truth = _load_truth(os.path.join(d, "truth.parquet"))
    routed = truth["sink"] != ""
    doc_ids = truth["doc_id"].astype(str)
    committed = [f"batch-{b:05d}" for b in range(TABLE_BATCHES)]
    sinks = sorted({s for _, _, s in gen.ROUTES})
    per_group = len(sinks) + len(sinks) // 2
    # whole days only: the last, partial day would make a scan's size
    # depend on the seed
    days = TABLE_BATCHES * TAIL_ROWS * TABLE_STEP_S // 86_400
    group = f"perfbench-{os.getpid()}"
    rng = np.random.default_rng([run.seed, 3])

    def scan(sink: str | None):
        """A point scan of ``sink`` on a seeded day, or (None) a seeded
        ``doc_id`` range; returns (label, predicates, expected rows)."""
        if sink is not None:
            day = datetime.date(2024, 3, 1) + datetime.timedelta(
                days=int(rng.integers(days)))
            want = routed & (truth["sink"] == sink) & (truth["log_date"] == str(day))
            return f"{sink}@{day}", [("sink_id", "==", sink), ("log_date", "==", day)], want
        a = int(rng.integers(len(doc_ids) - RANGE_ROWS))
        lo, hi = f"doc-{a:012d}", f"doc-{a + RANGE_ROWS:012d}"
        want = routed & (doc_ids >= lo) & (doc_ids < hi)
        return f"[{lo},{hi})", [("doc_id", ">=", lo), ("doc_id", "<", hi)], want

    def group_scans() -> list:
        """Every sink once plus one range per two point scans, in a
        seeded order: the mix of sink sizes is the same in every group,
        so the seed moves only days, ranges and order."""
        kinds = sinks + [None] * (per_group - len(sinks))
        return [kinds[i] for i in rng.permutation(per_group)]

    samples: dict[str, list[float]] = {k: [] for k in (
        "scan.plan_ms", "scan.job_ms", "scan.files_read", "follower.poll_ms",
        "follower.consume_ms", "follower.commit_ms")}

    def scan_group(timed: bool) -> None:
        """One group of scans; each scan is a sample.  Every group has
        the same mix of scans, so the median over whole groups is the
        same mix's median in every run."""
        for sink in group_scans():
            label, preds, want = scan(sink)
            t0 = time.perf_counter()
            df = scan_routed(spark, cfg, preds)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            run.errors += checks.check_scan(label, n, int(want.sum()))
            if timed:
                run.op_ms.append((t2 - t0) * 1e3)
                run.attempted += 1
                samples["scan.plan_ms"].append((t1 - t0) * 1e3)
                samples["scan.job_ms"].append((t2 - t1) * 1e3)
                if run.tracer:
                    samples["scan.files_read"].append(len(df.inputFiles()))

    def consumer_pass(timed: bool) -> None:
        """The group reads the whole table from its start; the pass's
        sample is its rows per second of poll + collect + commit."""
        follower.reset_cursor(cfg, group)
        polls = []
        rows, busy_s = 0, 0.0
        while True:
            run.attempted += timed
            t0 = time.perf_counter()
            got = follower.poll(spark, cfg, group, max_batches=POLL_BATCHES)
            t1 = time.perf_counter()
            if got.df is None:
                break
            tbl = got.df.select("doc_id", "batch_id").toArrow()
            t2 = time.perf_counter()
            follower.commit_cursor(cfg, group, got.cursor)
            t3 = time.perf_counter()
            polls.append((got.batch_ids, checks.arrow_strings(tbl, "doc_id"),
                          checks.arrow_strings(tbl, "batch_id")))
            rows += tbl.num_rows
            busy_s += t3 - t0
            if timed:
                samples["follower.poll_ms"].append((t1 - t0) * 1e3)
                samples["follower.consume_ms"].append((t2 - t1) * 1e3)
                samples["follower.commit_ms"].append((t3 - t2) * 1e3)
        run.errors += checks.check_deliveries(polls, committed, doc_ids[routed])
        if timed:
            run.rates.append(rows / busy_s)

    try:
        # warm-up, checked but not timed: the first few dozen scans and
        # polls of a session run up to 1.5 times as long as later ones
        for _ in range(WARMUP_ROUNDS):
            scan_group(timed=False)
            consumer_pass(timed=False)
        run.min_ops = MIN_SAMPLES * per_group
        run.setup_done()
        while run.more():
            scan_group(timed=True)
            consumer_pass(timed=True)
    finally:
        shutil.rmtree(os.path.join(cfg.output_path, "_consumers", group),
                      ignore_errors=True)
    run.layers.update({k: float(np.median(v)) if v else 0.0
                       for k, v in samples.items()})
    run.layers["scan.files_total"] = len(list(checks.data_files(
        os.path.join(cfg.output_path, "routed"))))


# -- catalog ----------------------------------------------------------------

def _oracles(d: str) -> dict:
    """Each headline query's DuckDB oracle result in canonical form,
    cached under a key of the oracle SQL and the input checksums."""
    import duckdb  # noqa: PLC0415

    from logfowd2_spark.plans import catalog  # noqa: PLC0415
    from logfowd2_spark.plans.compare import canon  # noqa: PLC0415

    sums = hashlib.sha256()
    for t in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(t, "rb") as fh:
            sums.update(hashlib.sha256(fh.read()).digest())
    sql = catalog.oracle_sql()
    cache = os.path.join(d, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name in HEADLINE:
        key = hashlib.sha256(sql[name].encode() + sums.digest()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(os.path.join(d, "*.parquet")):
                    name_t = os.path.basename(t)[:-len(".parquet")]
                    con.sql(f"CREATE VIEW {name_t} AS SELECT * FROM '{t}'")
            c = canon(con.sql(sql[name]).df())
            tmp = f"{path}.tmp-{os.getpid()}"
            pq.write_table(pa.table({k: pa.array(c[k].tolist(), pa.string())
                                     for k in c.columns}), tmp)
            os.replace(tmp, path)
        out[name] = pq.read_table(path).to_pandas()
    if con is not None:
        con.close()
    return out


def catalog(run) -> None:
    """One pass over the headline queries per round, each result checked
    against its DuckDB oracle under ``plans.compare.canon``.  Each query
    is an attempted operation; the timed sample is the whole pass."""
    from logfowd2_spark.plans import catalog as cat  # noqa: PLC0415
    from tracing import plan_counts  # noqa: PLC0415

    d = _cached(os.path.join(run.cache, f"catalog-g{gen.GEN_VERSION}"),
                gen.make_catalog)
    oracle = _oracles(d)
    input_rows = sum(pq.ParquetFile(t).metadata.num_rows
                     for t in glob.glob(os.path.join(d, "*.parquet")))
    spark = run.start_session(ingest=False)
    qs = cat.queries()
    # as in bench.py: one read first, so the pass measures the plans and
    # not the session's first job
    spark.read.parquet(os.path.join(d, "lineitem.parquet")).count()
    run.setup_done()

    walls: dict[str, list[float]] = {q: [] for q in HEADLINE}
    plans: dict[str, dict[str, int]] = {}
    while run.more():
        total_ms = 0.0
        for name in HEADLINE:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, d)
                got = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - counted, and wrong
                run.failed += 1
                run.errors.append(f"{name}: raised {exc!r}"[:500])
                continue
            ms = (time.perf_counter() - t0) * 1e3
            total_ms += ms
            walls[name].append(ms / 1e3)
            run.errors += checks.check_query(name, got, oracle[name])
            if run.tracer:
                plans[name] = plan_counts(
                    df._jdf.queryExecution().executedPlan().toString())
        # the sample is the pass (catalog_total_s): the median of 22
        # unlike queries would jump between neighbours
        run.op_ms.append(total_ms)
        run.rates.append(input_rows / (total_ms / 1e3))
    for name in HEADLINE:
        if walls[name]:
            run.layers[f"catalog.{name}.wall_s"] = float(np.median(walls[name]))
        for k in ("exchanges", "generates", "lambdas"):
            run.layers[f"catalog.{name}.{k}"] = plans.get(name, {}).get(k, 0)
    run.layers["catalog.python_exec"] = sum(p["python_exec"] for p in plans.values())


WORKLOADS = {
    "backfill": backfill,
    "tail_microbatch": tail_microbatch,
    "table_reads": table_reads,
    "catalog": catalog,
}
