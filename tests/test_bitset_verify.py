"""Round-16 exact bitset verify (r15 verdict item 2): when the global token
vocabulary fits one machine word, the Jaccard verify kernels attach 64-bit
masks instead of token arrays and compute |A∩B| = bit_count(maskA & maskB).

Locks:
* the mask encoding is EXACT — both verify stages return row-identical
  results to the array_intersect path on seeded random corpora (including
  boundary similarities and an empty-set doc);
* the adaptive guard works — the one vocabulary probe returns None at 65
  tokens (array verify, window prefix ranking) and the (w, df) rows at 64;
* the probe is memoized per (session, sf_dir) and logs its choice once;
* the cold build jobs of the family stay pinned.
"""

from __future__ import annotations

import logging
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from guidance_for_sap_data_integration_and_management_on_aws_spark.caches import clear_caches
from guidance_for_sap_data_integration_and_management_on_aws_spark.catalog import load
from guidance_for_sap_data_integration_and_management_on_aws_spark.operators import dedup
from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.dedup import (
    BITSET_VOCAB_MAX,
    _exact_verify_stage,
    _lsh_verify_stage,
    _token_mask_frame,
    _vocab_rows,
)
from guidance_for_sap_data_integration_and_management_on_aws_spark.plans import executed_plan


def _toks_frame(spark, sets: dict[int, list[int]]):
    return spark.createDataFrame(
        [(i, v) for i, v in sets.items()], "doc_id long, toks array<long>"
    )


def _all_pairs(spark, ids: list[int]):
    return spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "da long, db long"
    )


def _random_sets(rng: random.Random, n_docs: int, vocab: list[int]):
    # nonempty sets only: the tokenizers never emit an empty token set
    # (split('') is ['']), and an empty-vs-empty pair is 0/0 on the array
    # kernel (ANSI divide-by-zero) while the mask kernel drops the doc —
    # out of both kernels' domain
    sets = {}
    for i in range(n_docs):
        k = rng.randint(1, len(vocab))
        sets[i] = rng.sample(vocab, k)
    sets[1] = list(vocab)  # full-vocab doc
    if n_docs > 3:
        sets[2] = list(sets[3])  # an exact duplicate pair
    return sets


def test_bitset_verify_matches_array_kernel(spark):
    rng = random.Random(16)
    # vocab of signed 64-bit hashes, incl. extremes
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(BITSET_VOCAB_MAX - 2)]
    vocab += [-(1 << 63), (1 << 63) - 1]
    sets = _random_sets(rng, 80, vocab)
    toks = _toks_frame(spark, sets)
    cand = _all_pairs(spark, sorted(sets)).localCheckpoint(eager=True)
    rows = _vocab_rows(toks)
    assert rows is not None  # 64 distinct tokens: at the guard boundary
    assert sorted(r["w"] for r in rows) == sorted(vocab)
    masks = _token_mask_frame(toks, rows)

    for stage in (_exact_verify_stage, _lsh_verify_stage):
        via_arrays = sorted(map(tuple, stage(cand, toks).collect()))
        via_masks = sorted(map(tuple, stage(cand, toks, masks).collect()))
        assert via_masks == via_arrays, stage.__name__
        assert via_arrays, f"{stage.__name__}: degenerate fixture (no pairs)"


def test_vocab_guard_falls_back_above_64(spark):
    rng = random.Random(7)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(BITSET_VOCAB_MAX + 1)]
    sets = {i: rng.sample(vocab, rng.randint(1, len(vocab))) for i in range(20)}
    assert _vocab_rows(_toks_frame(spark, sets)) is None


def test_mask_frame_counts_are_set_sizes(spark):
    rng = random.Random(3)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(30)]
    sets = {i: rng.sample(vocab, rng.randint(1, 30)) for i in range(40)}
    toks = _toks_frame(spark, sets)
    masks = _token_mask_frame(toks, _vocab_rows(toks))
    rows = {r["doc_id"]: r for r in masks.collect()}
    for i, v in sets.items():
        assert rows[i]["n"] == len(set(v))
        assert bin(rows[i]["mask"] & ((1 << 64) - 1)).count("1") == len(set(v))


def test_prefix_frame_fast_path_matches_window_path(spark):
    """r16 small-vocab prefix fast path (collected df map + array_sort +
    slice) must emit the IDENTICAL (doc_id, n, rnk, w) prefix rows as the
    general explode -> df-join -> window build — same (df, w) total order.
    The probe's rows pick the fast path, None the window path."""
    import guidance_for_sap_data_integration_and_management_on_aws_spark.operators.dedup as D

    rng = random.Random(11)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(40)]
    sets = _random_sets(rng, 60, vocab)
    toks = _toks_frame(spark, sets)
    rows = D._vocab_rows(toks)
    assert rows is not None
    for t in (0.6, 0.7):  # the jaccard and containment thresholds
        fast, p, q = D._pruned_prefix_frame(toks, t, rows)
        slow, p2, q2 = D._pruned_prefix_frame(toks, t, None)
        assert (p, q) == (p2, q2)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        ), f"t={t}"


def test_lsh_length_prune_runs_before_the_intersection(spark):
    """The LSH verify's integer length prune must be evaluated below (or
    ahead of) the intersection in the executed plan, on both kernels: it
    exists to skip the per-pair intersection."""
    rng = random.Random(5)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(20)]
    toks = _toks_frame(spark, _random_sets(rng, 30, vocab))
    cand = _all_pairs(spark, list(range(30))).localCheckpoint(eager=True)
    for masks in (None, _token_mask_frame(toks, _vocab_rows(toks))):
        lines = executed_plan(_lsh_verify_stage(cand, toks, masks)).splitlines()
        prune = next(i for i, l in enumerate(lines) if "least(na" in l)
        meet = "array_intersect" if masks is None else "bit_count"
        assert meet not in lines[prune].split("least(na")[0], lines[prune]
        # the Project computing i prints above (is a parent of) the prune
        assert any(meet in l and " AS i#" in l for l in lines[:prune]), lines


def _cold(spark, sf_dir):
    """Drop every memoized frame of ``sf_dir``, then re-warm the documents
    schema, so a build starts from the raw table."""
    clear_caches(sf_dir)
    load(spark, sf_dir, "documents")


def _probe_records(caplog):
    return [r.getMessage() for r in caplog.records if r.name == dedup.__name__]


def test_vocab_probe_runs_and_logs_once_per_session(spark, sf_dir, caplog):
    _cold(spark, sf_dir)
    caplog.set_level(logging.INFO, logger=dedup.__name__)
    for q in (
        dedup.dedup_jaccard_pairs,
        dedup.dedup_incremental_jaccard,
        dedup.dedup_minhash_lsh,
    ):
        q.builder(spark, sf_dir)
    rows, masks = dedup._vocab(spark, sf_dir)
    assert rows is not None and masks is not None
    [msg] = _probe_records(caplog)
    assert f"{len(rows)} tokens" in msg and "bitset verify" in msg, msg
    assert "map-side prefix ranking" in msg, msg


def test_wide_vocab_logs_array_and_window_choice(spark, tmp_path, caplog):
    n = BITSET_VOCAB_MAX + 1
    texts = [" ".join(f"w{(i + k) % n}" for k in range(8)) for i in range(n)]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": texts}),
        tmp_path / "documents.parquet",
    )
    caplog.set_level(logging.INFO, logger=dedup.__name__)
    try:
        assert dedup._vocab(spark, str(tmp_path)) == (None, None)
    finally:
        clear_caches(str(tmp_path))
    [msg] = _probe_records(caplog)
    assert f">{BITSET_VOCAB_MAX} tokens" in msg, msg
    assert "array verify" in msg and "window prefix ranking" in msg, msg


# Build jobs at sf0.001 with the documents schema warm and every memoized
# frame dropped: the cold builds of the exact pairs and of the LSH
# certification, and a SECOND incremental build (its vocabulary probe and
# masks are memoized; only the prefix checkpoint runs again).  With two
# vocabulary probes and a re-probe per incremental build the same
# measurement read 13 / 15 / 3.  Fewest over BUILDS builds, as in
# tests/test_fixpoint.py (adaptive execution can add a shuffle-stage job).
BUILDS = 3
BUILD_JOBS = {
    "sf0.001": {
        "dedup_jaccard_pairs": 9,
        "dedup_minhash_lsh": 11,
        "dedup_incremental_jaccard rebuild": 1,
    },
}


def test_dedup_build_jobs(spark, sf_dir):
    expected = BUILD_JOBS.get(os.path.basename(sf_dir.rstrip("/")))
    if expected is None:
        pytest.skip(f"build-job counts are pinned at {sorted(BUILD_JOBS)}")
    sc = spark.sparkContext

    def build_jobs(name):
        _cold(spark, sf_dir)
        q = getattr(dedup, name.split()[0])
        if name.endswith("rebuild"):
            q.builder(spark, sf_dir)
        gid = f"dedup-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, gid)
        try:
            q.builder(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    got = {name: min(build_jobs(name) for _ in range(BUILDS)) for name in expected}
    assert got == expected
