"""Output checks, computed apart from the program.

Every check compares what the program wrote (read back with pyarrow,
walking the directories the way any reader of the table would) with
the generator's ground truth, and returns a list of error strings: an
empty list means the output is correct.  The checks are pure functions
of their arguments so that ``selftest.py`` can feed them perturbed
results and see them fail.
"""

from __future__ import annotations

import collections
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def data_files(root: str, batch_ids=None):
    """(path, {partition column: value}) for every parquet data file
    under ``root``; hidden and underscore names are not data.  With
    ``batch_ids``, only the files of those batches."""
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        parts = dict(seg.split("=", 1)
                     for seg in os.path.relpath(d, root).split(os.sep)
                     if "=" in seg)
        if batch_ids is not None and parts.get("batch_id", "") not in batch_ids:
            continue
        for fn in sorted(files):
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                yield os.path.join(d, fn), parts


def read_rows(root: str, batch_ids=None) -> dict[str, np.ndarray]:
    """``doc_id`` plus the partition columns of every row under
    ``root`` (of ``batch_ids`` only, if given), concatenated over its
    files."""
    cols: dict[str, list] = collections.defaultdict(list)
    for path, parts in data_files(root, batch_ids):
        tbl = pq.read_table(path, columns=["doc_id"])
        cols["doc_id"].append(arrow_strings(tbl, "doc_id"))
        for k, v in parts.items():
            cols[k].append(np.full(tbl.num_rows, v, dtype=object))
    return {k: np.concatenate(v) if v else np.array([], dtype=object)
            for k, v in cols.items()}


def table_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p, _ in data_files(root))


def read_sink_stats(stats_root: str) -> dict[str, tuple[int, int]]:
    """Per-sink (event_count, token_total) summed over every batch's
    ``sink_stats`` partition."""
    out: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0])
    for path, _ in data_files(stats_root):
        for r in pq.read_table(path).to_pylist():
            out[r["sink_id"]][0] += int(r["event_count"])
            out[r["sink_id"]][1] += int(r["token_total"])
    return {k: (v[0], v[1]) for k, v in out.items()}


def expected_sink_stats(truth: dict[str, np.ndarray]) -> dict[str, tuple[int, int]]:
    out: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0])
    for sink, n_tok in zip(truth["sink"], truth["n_tok"]):
        if sink:
            out[sink][0] += 1
            out[sink][1] += int(n_tok)
    return {k: (v[0], v[1]) for k, v in out.items()}


def check_sink_stats(got: dict[str, tuple[int, int]],
                     truth: dict[str, np.ndarray]) -> list[str]:
    want = expected_sink_stats(truth)
    return [f"sink {s}: (event_count, token_total) {got.get(s)} != {want.get(s)}"
            for s in sorted(set(got) | set(want)) if got.get(s) != want.get(s)]


def check_conservation(rows_in: int, routed: int, quarantined: int,
                       truth: dict[str, np.ndarray]) -> list[str]:
    n, bad = len(truth["doc_id"]), int(np.sum(truth["struct"]))
    errs = []
    if rows_in != n:
        errs.append(f"rows_in {rows_in} != generated rows {n}")
    if quarantined != bad:
        errs.append(f"parse failures {quarantined} != damaged rows {bad}")
    if routed + quarantined != rows_in:
        errs.append(f"rows_in {rows_in} != routed {routed} + quarantined "
                    f"{quarantined}")
    return errs


def check_exactly_once(routed_ids: np.ndarray, quarantined_ids: np.ndarray,
                       truth: dict[str, np.ndarray]) -> list[str]:
    """Every input doc_id appears exactly once across the routed and
    quarantine tables, and damaged rows are exactly the quarantined
    ones."""
    errs = []
    seen = np.concatenate([routed_ids, quarantined_ids]).astype(str)
    ids, counts = np.unique(seen, return_counts=True)
    if (counts > 1).any():
        errs.append(f"{int((counts > 1).sum())} doc_ids written more than "
                    f"once, e.g. {ids[counts > 1][:3].tolist()}")
    want = np.sort(truth["doc_id"].astype(str))
    if len(ids) != len(want) or not np.array_equal(ids, want):
        missing = np.setdiff1d(want, ids)
        extra = np.setdiff1d(ids, want)
        errs.append(f"doc_id set differs: {len(missing)} missing "
                    f"{missing[:3].tolist()}, {len(extra)} unexpected "
                    f"{extra[:3].tolist()}")
    bad = np.sort(truth["doc_id"][truth["struct"]].astype(str))
    if not np.array_equal(np.sort(quarantined_ids.astype(str)), bad):
        errs.append("quarantined doc_ids are not exactly the damaged rows")
    return errs


def check_routing(routed: dict[str, np.ndarray],
                  truth: dict[str, np.ndarray]) -> list[str]:
    """Row-level routing: each routed doc_id sits under the sink and
    log_date partition its ground truth names."""
    want = {d: (s, t) for d, s, t in
            zip(truth["doc_id"], truth["sink"], truth["log_date"]) if s}
    wrong = [d for d, s, t in zip(routed["doc_id"], routed["sink_id"],
                                  routed["log_date"])
             if want.get(d) != (s, t)]
    if wrong:
        return [f"{len(wrong)} rows under the wrong sink/log_date, "
                f"e.g. {wrong[:3]}"]
    return []


def check_ingest(out: str, truth: dict[str, np.ndarray], rows_in: int,
                 routed: int, quarantined: int,
                 dlq_batches=None) -> list[str]:
    """All the ingest checks over one output directory: per-sink stats,
    conservation, exactly-once doc_ids, row-level routing, and routed
    rows on disk equal to the sum of ``sink_stats``.  ``dlq_batches``
    names the quarantine generations the run wrote, when the quarantine
    also holds copies made in set-up."""
    stats = read_sink_stats(os.path.join(out, "sink_stats"))
    on_disk = read_rows(os.path.join(out, "routed"))
    dlq = read_rows(os.path.join(out, "parse_failures"), dlq_batches)
    errs = check_sink_stats(stats, truth)
    errs += check_conservation(rows_in, routed, quarantined, truth)
    errs += check_exactly_once(on_disk["doc_id"], dlq["doc_id"], truth)
    errs += check_routing(on_disk, truth)
    total = sum(c for c, _ in stats.values())
    if len(on_disk["doc_id"]) != total:
        errs.append(f"routed rows on disk {len(on_disk['doc_id'])} != "
                    f"sum of sink_stats {total}")
    return errs


def check_history(manifest_path: str, history_ids: list[str],
                  new_ids: list[str], rows_per_batch: int) -> list[str]:
    """The checkpoint holds the whole seeded history plus one record per
    batch of this run, in commit order."""
    with open(manifest_path) as fh:
        data = json.load(fh)["data"]
    batches = data["batches"]
    order = data.get("order") or sorted(batches)
    errs = []
    if order != history_ids + new_ids:
        errs.append(f"commit order has {len(order)} ids, expected "
                    f"{len(history_ids)} history + {len(new_ids)} new")
    for b in new_ids:
        rec = batches.get(b)
        if rec is None or rec["rows_in"] != rows_per_batch:
            errs.append(f"batch {b}: record {None if rec is None else rec['rows_in']}")
    return errs


def check_deliveries(polls: list[tuple[list[str], np.ndarray, np.ndarray]],
                     committed: list[str],
                     truth_ids: np.ndarray) -> list[str]:
    """One consumer pass: ``polls`` holds, per poll, the delivered batch
    ids and the (doc_id, batch_id) of every delivered row.  Summed over
    the polls, every routed row is delivered exactly once, every
    committed batch once, and each row comes from a batch its poll
    named."""
    errs = []
    batches = [b for ids, _, _ in polls for b in ids]
    if sorted(batches) != sorted(committed) or len(set(batches)) != len(batches):
        errs.append(f"delivered batches {len(batches)} "
                    f"({len(set(batches))} distinct) != committed "
                    f"{len(committed)}")
    for ids, _, row_batches in polls:
        stray = set(row_batches.astype(str).tolist()) - set(ids)
        if stray:
            errs.append(f"rows from batches the poll did not name: {sorted(stray)[:3]}")
    got = np.sort(np.concatenate([d for _, d, _ in polls]).astype(str)) \
        if polls else np.array([], dtype=str)
    want = np.sort(truth_ids.astype(str))
    if len(got) != len(want) or not np.array_equal(got, want):
        errs.append(f"consumer delivered {len(got)} rows "
                    f"({len(np.unique(got))} distinct), expected {len(want)}")
    return errs


def check_scan(label: str, count: int, expected: int) -> list[str]:
    return [] if count == expected else [f"scan {label}: {count} rows, "
                                         f"expected {expected}"]


def check_query(name: str, got, oracle) -> list[str]:
    """``got`` is the query's pandas result and ``oracle`` the canonical
    form of the DuckDB oracle's result (``plans.compare.canon``)."""
    from logfowd2_spark.plans.compare import frames_match  # noqa: PLC0415

    ok, msg = frames_match(got, oracle)
    return [] if ok else [f"{name}: {msg}"]


def arrow_strings(tbl: pa.Table, col: str) -> np.ndarray:
    return tbl.column(col).to_numpy(zero_copy_only=False).astype(object)
