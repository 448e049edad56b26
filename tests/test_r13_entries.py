"""Round-13 pack invariants: the containment guardrail's composition
properties and the streaming dedup entry's batch equality.

Oracle-hash parity for both entries runs in the replay/driver gate
(verified green at sf0.01); these tests pin the claims the oracles
can't express — the guardrail's candidate-input drop and
identical-output guarantee on an adversarial copy-inflated corpus, the
subset/closure relations of the composed entry, and the streaming
run's exact multiset equality with the batch table it replays.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tj_project_spark import strain
from etl_tj_project_spark.harness_dedup import (
    dedup_cluster_canonicalize,
    dedup_containment_canonical,
    stream_dedup_watermark,
)
from etl_tj_project_spark.operators import dedup as dd
from etl_tj_project_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


# -------------------------------------------------------------------------
# Composed entry: structural relations to its two stages
# -------------------------------------------------------------------------

def test_containment_canonical_is_containment_on_survivors(spark):
    """The composed entry must equal prefix-filtered containment run
    over exactly the canonical-survivor subset UNIONED with the
    deterministic probe excerpts — no more, no less — it must be
    NON-EMPTY (every probe doc is contained in its source at C=1.0
    by construction, so emptiness means the probe splice is broken),
    and every probe->source pair must appear with containment_milli
    exactly 1000."""
    out = dedup_containment_canonical(spark, SF_SMOKE).persist()
    assert out.count() > 0, "probe construction must defeat vacuity"
    manifest = dedup_cluster_canonicalize(spark, SF_SMOKE)
    canonical = {
        r.canonical_doc_id for r in manifest.select("canonical_doc_id").collect()
    }

    d = load_table(spark, SF_SMOKE, "documents")
    reps = d.filter(F.col("doc_id").isin([int(x) for x in canonical]))
    corpus = dd.containment_probe_corpus(reps, "doc_id", "text").persist()
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}

    got_ids = {
        v
        for r in out.select("doc_a", "doc_b").collect()
        for v in (r.doc_a, r.doc_b)
    }
    assert got_ids <= corpus_ids

    want = dd.prefix_filter_containment_pairs(
        corpus, "doc_id", "text", ngram=3, t_num=4, t_den=5
    )
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0

    # Every probe doc (id >= offset) is a token-prefix of its source:
    # its (probe -> source) row must exist with containment == 1.0.
    probe_ids = {i for i in corpus_ids if i >= 1_000_000}
    assert probe_ids, "probe set must be non-empty at smoke scale"
    probe_rows = {
        (r.doc_a, r.doc_b): r.containment_milli
        for r in out.filter(F.col("doc_a") >= 1_000_000).collect()
    }
    for pid in probe_ids:
        assert probe_rows.get((pid, pid - 1_000_000)) == 1000, (
            pid,
            probe_rows.get((pid, pid - 1_000_000)),
        )
    corpus.unpersist()
    out.unpersist()


def test_canonicalize_clusters_df_level_matches_entry(spark):
    """The DataFrame-level canonicalize building block must reproduce
    the registry entry's manifest exactly (same LSH params, same keep
    rule) — it is the strain's stand-in for the entry."""
    d = load_table(spark, SF_SMOKE, "documents")
    got = dd.canonicalize_near_dup_clusters(d, "doc_id", "text", "n_chars")
    want = dedup_cluster_canonicalize(spark, SF_SMOKE)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# -------------------------------------------------------------------------
# Guardrail strain: candidate drop + identical output, deterministically
# -------------------------------------------------------------------------

def test_containment_guardrail_strain(spark):
    """On a 3x exact-copy corpus the direct candidate-join input must
    be >= 9x the canonical-first input (the runner asserts the floor
    internally — this drives it and checks the record's shape), and
    the final pair set must be identical to the base run (asserted
    inside via both exceptAll directions)."""
    row = strain.run_containment_guardrail_strain(spark, SF_SMOKE, replicas=3)
    assert row["replicas"] == 3
    # Theorem floor (any corpus): copy inflation lifts every BASE pair
    # replicas^2 times. The runner _require's this internally too.
    assert row["cand_direct"] >= 9 * row["cand_base"]
    # Empirical on this corpus (ADVICE r13: not a theorem in general —
    # canonicalization reshuffles the global prefix order): the drop
    # the guardrail actually buys.
    assert row["cand_direct"] >= 9 * row["cand_canonical"]
    assert row["cand_drop_x"] >= 9
    # Identity compared non-empty sets (the runner _require's > 0).
    assert row["pairs_canonical"] > 0
    assert 0 < row["n_canonical"] <= row["docs"] // 3
    assert row["sec_direct_candidates"] > 0
    assert row["sec_guardrail_e2e"] > 0


# -------------------------------------------------------------------------
# Streaming dedup entry: exact multiset equality with the batch table
# -------------------------------------------------------------------------

def test_stream_dedup_short_horizon_duplicate_survives(spark):
    """The bounded-state trade-off pinned honestly (VERDICT r13 item 8):
    with a SHORT watermark horizon, a duplicate key arriving after the
    watermark has passed its state-expiry time is emitted AGAIN — state
    was evicted, which is exactly what keeps dropDuplicatesWithinWatermark
    viable at 10^12 events. A duplicate within the horizon stays dropped.

    Batches are forced one-file-per-trigger with ascending mtimes:
      batch 1: id=1 @ T0;  id=3 @ T0 twice (in-batch dup -> dropped)
      batch 2: id=3 @ T0+5s (within 10s horizon -> dropped),
               id=2 @ T0+100s (advances watermark to T0+90s)
      batch 3: id=4 @ T0+110s — spacer: state eviction runs at batch
               END against the batch's START watermark (one-batch lag),
               so id=1's state (expiry T0+10s) is purged here
      batch 4: id=1 @ T0+120s (above watermark, state gone -> EMITTED)
    Expected sink: id=1 twice, id=2 / id=3 / id=4 once each.
    """
    import os
    import shutil
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_tj_project_spark.streaming.stateful import dedup_stream

    work = tempfile.mkdtemp(prefix="tj_stream_horizon_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    name = f"stream_horizon_{abs(hash(work)) % (1 << 30)}"
    t0 = 1_700_000_000_000_000  # microseconds since epoch, arbitrary
    us = 1_000_000

    def write(fname, rows, mtime):
        ids, tss = zip(*rows)
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(list(tss), pa.timestamp("us", tz="UTC")),
            }
        )
        path = os.path.join(src, fname)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    now = time.time()
    write("b1.parquet", [(1, t0), (3, t0), (3, t0)], now - 30)
    write("b2.parquet", [(3, t0 + 5 * us), (2, t0 + 100 * us)], now - 20)
    write("b3.parquet", [(4, t0 + 110 * us)], now - 15)
    write("b4.parquet", [(1, t0 + 120 * us)], now - 10)

    try:
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        deduped = dedup_stream(
            stream, ["event_id"], watermark_col="ts", watermark="10 seconds"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "stream did not finish in 300s"
            got = sorted(
                (r.event_id for r in spark.table(name).collect())
            )
        finally:
            q.stop()
            spark.catalog.dropTempView(name)
        assert got == [1, 1, 2, 3, 4], got
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stream_dedup_watermark_equals_batch(spark):
    """The streaming run over the duplicate-injected source must give
    back exactly the original events multiset (injected rows are
    byte-identical copies, so dedup-by-event_id restores the table)."""
    got = stream_dedup_watermark(spark, SF_SMOKE)
    want = load_table(spark, SF_SMOKE, "events").select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
