"""Corpus-curation registry entries: the dataset-engineering operators a
100 TB pretraining pipeline runs between "raw documents" and "training
shards" — deterministic splits, sequence packing, PII redaction, corpus
vocabulary stats, stratified sampling, train/eval contamination checks,
TF-IDF and n-gram statistics, edit-distance near-dup verification,
classifier inference, per-document quality signals (adaptive stopword
fraction, unigram commonness, bigram fluency), BPE tokenizer training and
fertility, retrieval chunking, and embedding-table profiling (quantized
norms, Matryoshka truncated-dimension recall).

All of these are pure Column expressions (no Python UDFs) so they stay in
whole-stage codegen over a full-corpus scan, and all are deterministic —
splitting and sampling hash a salted document key with MD5 (identical hex
output on any engine) instead of using RNG, so re-runs and the DuckDB
oracle produce bit-identical assignments. At 100 TB that determinism is
what makes a re-run of one failed shard reproduce the same split
membership without coordinating state.

Cross-engine determinism rules (see parity.py):
* no libm functions in outputs — TF-IDF uses the *linear* idf variant
  ``tf * N / df`` (IEEE division of exactly-representable integers is
  correctly rounded, so both engines emit bit-identical doubles; ``ln``
  differs in the last ulp between libms);
* every ratio is BIGINT/BIGINT through IEEE division or BIGINT ``div``;
* double sums go through DECIMAL internally (exact, order-independent)
  and are pinned to DOUBLE on output by the parity layer;
* norm profiling runs on int8-QUANTIZED vectors so every sum is exact
  integer arithmetic;
* cosine arithmetic uses functions/vectors.py and its SQL twins
  (identical left-to-right accumulation order on both engines);
* every top-k carries a deterministic tiebreak.

Scale notes: most queries are a single corpus scan (plus one tiny
broadcast where noted); packing uses one window shuffle on (source) and
nothing else; the contamination check shuffles on the 32-char
fingerprint only after projecting away the text payload; chunking is one
projection plus one posexplode, with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.functions import text as tx
from etl_tj_project_spark.functions.vectors import cosine_similarity_sql
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.operators import bpe as bpe_ops
from etl_tj_project_spark.operators import classifier as _clf
from etl_tj_project_spark.schemas import AMOUNT
from etl_tj_project_spark.sources.testdata import load_table


# =========================================================================
# Corpus curation: deterministic splits and sampling, sequence
# packing, PII redaction, vocabulary stats, contamination checks
# =========================================================================


# 256-bucket split on the first two hex chars of a salted doc-key MD5:
# [00,cd) train ≈ 80.1%, [cd,e6) val ≈ 9.8%, [e6,ff] test ≈ 10.1%.
_TRAIN_HI = "cd"
_VAL_HI = "e6"


def _doc_key_md5(salt: str) -> F.Column:
    return F.md5(
        F.concat(F.lit(salt), F.col("doc_id").cast("string")).cast("binary")
    )


def _doc_key_md5_sql(salt: str) -> str:
    return f"md5(concat('{salt}', CAST(doc_id AS VARCHAR)))"


@register(
    "corpus_split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN substring({_doc_key_md5_sql('split:')}, 1, 2)
                     < '{_TRAIN_HI}' THEN 'train'
                WHEN substring({_doc_key_md5_sql('split:')}, 1, 2)
                     < '{_VAL_HI}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment: salted MD5 of the doc "
        "key, bucketed on the hex prefix (string compare — no hex→int "
        "parse, so any engine agrees). Keyed on doc_id, not text, so an "
        "edited document keeps its split (no eval contamination drift)",
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    h2 = F.substring(_doc_key_md5("split:"), 1, 2)
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(h2 < _TRAIN_HI, "train")
        .when(h2 < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "corpus_pack_sequences",
    """
    SELECT doc_id, source,
           CAST(floor((cum - n_chars) / 2048.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    ) t
    """,
    doc="Sequence packing (fixed-offset next-fit): running char budget "
        "per source stream, pack = floor(preceding-cum / 2048). The 2048 "
        "divisor is a power of two so the double division is exact. One "
        "window shuffle on (source); at 100 TB the source key is the "
        "shard key, so packing parallelizes per shard with no skew",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col("n_chars").cast("long")
    cum = F.sum(n).over(w)
    return d.select(
        "doc_id",
        "source",
        F.floor((cum - n) / F.lit(2048.0)).cast("long").alias("pack_id"),
    )


@register(
    "corpus_pii_redact",
    """
    SELECT doc_id,
           regexp_replace(text, '[0-9][0-9][0-9]+', '<NUM>', 'g')
             AS redacted,
           regexp_replace(text, '[0-9][0-9][0-9]+', '<NUM>', 'g') <> text
             AS was_redacted
    FROM documents
    """,
    doc="PII-style scrubbing: global regexp_replace of long digit runs "
        "(the account-number/phone pattern class) with a typed marker "
        "token. Pure codegen'd projection — a 100 TB redaction pass is "
        "scan-speed; the pattern set extends without changing the plan",
)
def corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = F.regexp_replace(F.col("text"), "[0-9][0-9][0-9]+", "<NUM>")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        red.alias("redacted"),
        (red != F.col("text")).alias("was_redacted"),
    )


@register(
    "corpus_top_terms",
    """
    SELECT term, COUNT(*) AS term_count
    FROM (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ) t
    WHERE term <> ''
    GROUP BY term
    ORDER BY term_count DESC, term
    LIMIT 50
    """,
    doc="Corpus vocabulary head: explode whitespace tokens → global term "
        "frequency → deterministic top-50 (count desc, term tiebreak). "
        "Map-side partial counts collapse the exploded volume before the "
        "single shuffle; top-k via TakeOrderedAndProject",
)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.trim("text") != "")
        .select(F.explode(tx.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .orderBy(F.col("term_count").desc(), "term")
        .limit(50)
    )


@register(
    "corpus_stratified_sample",
    f"""
    SELECT lang, COUNT(*) AS n_kept
    FROM (
      SELECT lang,
             substring({_doc_key_md5_sql('sample:')}, 1, 2) AS h2
      FROM documents
    ) t
    WHERE h2 < (CASE WHEN lang = 'en' THEN '40' ELSE 'cd' END)
    GROUP BY lang
    """,
    doc="Stratified downsampling with per-language keep rates (en 25%, "
        "others 80%) via the same salted-MD5 device — the language "
        "rebalancing step of corpus mixing. Deterministic membership: "
        "adding documents never flips earlier keep/drop decisions",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    h2 = F.substring(_doc_key_md5("sample:"), 1, 2)
    rate = F.when(F.col("lang") == "en", "40").otherwise("cd")
    return (
        load_table(spark, sf_dir, "documents")
        .filter(h2 < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "corpus_contamination_check",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(array_to_string(
               list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 10),
               ' '))) AS fingerprint
      FROM documents WHERE trim(text) <> ''
    ),
    eval_fp AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 17 = 0
    )
    SELECT f.doc_id, f.fingerprint
    FROM fp f
    WHERE f.doc_id % 17 <> 0
      AND EXISTS (SELECT 1 FROM eval_fp e
                  WHERE e.fingerprint = f.fingerprint)
    """,
    doc="Train/eval contamination check: prefix fingerprints (MD5 of the "
        "first 10 normalized tokens — the eval-prompt-leak heuristic; an "
        "exact-content MD5 is the degenerate slice-to-end case), semi-"
        "join of the training side against the eval set's fingerprints. "
        "Text is projected away before the join, so the shuffle moves "
        "32-byte keys, not documents; the eval side is broadcast-sized "
        "by construction",
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = F.array_join(F.slice(tx.tokens("text"), 1, 10), " ")
    fp = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id", F.md5(F.lower(prefix).cast("binary")).alias("fingerprint")
        )
    )
    eval_fp = (
        fp.filter(F.col("doc_id") % 17 == 0).select("fingerprint").distinct()
    )
    train = fp.filter(F.col("doc_id") % 17 != 0)
    return train.join(
        F.broadcast(eval_fp.withColumnRenamed("fingerprint", "e_fp")),
        F.col("fingerprint") == F.col("e_fp"),
        "left_semi",
    )


@register(
    "dedup_rate_by_source",
    f"""
    WITH fp AS (
      SELECT source, {tx.doc_fingerprint_sql('text')} AS f FROM documents
    ),
    g AS (
      SELECT source, f, CAST(COUNT(*) AS BIGINT) AS copies
      FROM fp GROUP BY source, f
    )
    SELECT source,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_dropped,
           round(CAST(SUM(copies) - COUNT(*) AS DOUBLE)
                 / CAST(SUM(copies) AS DOUBLE), 6) AS dedup_rate
    FROM g GROUP BY source
    """,
    doc="Per-source exact-dedup rate: docs, unique fingerprints, and "
        "the fraction dropped — the per-provider quality scoreboard a "
        "pipeline publishes after its dedup pass (a source running 40% "
        "duplicates gets its crawl budget cut, not its weight raised). "
        "Two stacked aggregations, both keyed on uniformly-distributed "
        "md5 — skew-impossible; one scan of the corpus",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", tx.doc_fingerprint("text").alias("f"))
        .groupBy("source", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("copies"))
    )
    return g.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.sum("copies") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
        F.round(
            (F.sum("copies") - F.count(F.lit(1))).cast("double")
            / F.sum("copies").cast("double"),
            6,
        ).alias("dedup_rate"),
    )


@register(
    "uniform_sample_k_per_group",
    f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_doc_key_md5_sql('ksample:')}, doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 20
    """,
    doc="Deterministic uniform k-per-group sample: exactly 20 docs per "
        "language, chosen by salted-MD5 order — the reservoir-sampling "
        "result without reservoir state (the hash IS the random "
        "permutation, reproducible across runs/engines, and adding "
        "docs later only displaces, never reshuffles, the kept set). "
        "The eval-set construction primitive. One group-keyed window; "
        "at 100 TB a per-partition top-k pre-prune bounds the sort",
)
def uniform_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_doc_key_md5("ksample:"), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "truncate_head_tail_budget",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           len(tok) > 60 AS truncated,
           CASE WHEN len(tok) > 60
                THEN array_to_string(tok[1:40], ' ') || ' ... ' ||
                     array_to_string(tok[len(tok)-19:len(tok)], ' ')
                ELSE array_to_string(tok, ' ') END AS text_budgeted
    FROM t
    """,
    doc="Token-budget truncation preserving head AND tail (first 40 + "
        "last 20 tokens when over 60): long documents carry their "
        "conclusion as well as their opening into the training window "
        "— plain head-truncation systematically deletes endings, a "
        "known curation bias. Pure array expressions (split/slice/"
        "join), no explode, no Python; the budget check and both "
        "slices inline into one codegen stage",
)
def truncate_head_tail_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = tx.tokens("text")
    n = F.size(tok)
    head = F.array_join(F.slice(tok, 1, 40), " ")
    tail = F.array_join(F.slice(tok, n - F.lit(19), 20), " ")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (n > 60).alias("truncated"),
        F.when(n > 60, F.concat(head, F.lit(" ... "), tail))
        .otherwise(F.array_join(tok, " "))
        .alias("text_budgeted"),
    )


@register(
    "decontaminate_13gram",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - 12, 1) + 1),
                 i -> array_to_string(t[i:i+12], ' '))) AS s
        FROM toks WHERE len(t) >= 13
      ) raw
    ),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT DISTINCT sh.doc_id FROM sh
      JOIN eval_sh e ON e.s = sh.s
      WHERE sh.doc_id % 10 <> 0
    )
    SELECT t.doc_id, h.doc_id IS NOT NULL AS contaminated
    FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
    """,
    doc="Benchmark decontamination by the published 13-gram rule "
        "(GPT-3 appendix C / PaLM): a training document is contaminated "
        "iff it shares ANY 13-token shingle with the eval split (here "
        "doc_id%10==0 stands in for the benchmark set). Stricter and "
        "costlier than the prefix-fingerprint check "
        "(corpus_contamination_check): overlap can hide ANYWHERE in "
        "the document, so the join key is every shingle, not one "
        "fingerprint. Plan: shingles stay in-row until one explode, "
        "eval shingles deduped then equi-joined (semi-join to a "
        "distinct flag) — the eval side is benchmark-sized, so at "
        "100 TB it broadcasts and the train side is one scan",
)
def decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.dedup import _ensure_parallelism

    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower("text"))
    # Spread the 13-gram shingle explode (r17 optimization, guide §2.5):
    # a single-file corpus scans as ONE split and this Generate is the
    # query's dominant stage — measured 2.91 s single-task vs 0.65 s
    # spread at sf0.1; no-op on well-split inputs. The train-id
    # projection below stays on the raw scan (trivial work).
    dh = _ensure_parallelism(d)
    sh = (
        dh.filter(F.size(toks) >= 13)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(
                                F.size(toks) - F.lit(12), F.lit(1)
                            ),
                        ),
                        lambda i: F.array_join(
                            F.slice(toks, i, 13), " "
                        ),
                    )
                )
            ).alias("s"),
        )
        .distinct()
    )
    eval_sh = sh.filter(F.col("doc_id") % 10 == 0).select("s").distinct()
    hits = (
        sh.filter(F.col("doc_id") % 10 != 0)
        .join(eval_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = d.filter(F.col("doc_id") % 10 != 0).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id", F.col("__hit").isNotNull().alias("contaminated")
    )


@register(
    "dedup_paragraph_chunks",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' ')
               AS chunk_text
      FROM words,
           UNNEST(range(CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)
    ),
    keyed AS (
      SELECT doc_id, chunk_idx, chunk_text,
             md5(chunk_text) AS k,
             doc_id * 1000000 + chunk_idx AS ord
      FROM chunks
    ),
    firsts AS (SELECT k, MIN(ord) AS first_ord FROM keyed GROUP BY k),
    kept AS (
      SELECT keyed.doc_id, keyed.chunk_idx, keyed.chunk_text
      FROM keyed JOIN firsts
        ON keyed.k = firsts.k AND keyed.ord = firsts.first_ord
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(kept.chunk_idx) AS BIGINT) AS n_kept,
           string_agg(kept.chunk_text, ' ' ORDER BY kept.chunk_idx)
             AS kept_text
    FROM chunks c
    LEFT JOIN kept
      ON c.doc_id = kept.doc_id AND c.chunk_idx = kept.chunk_idx
    GROUP BY c.doc_id
    """,
    doc="CCNet-style paragraph-level exact dedup with document "
        "reassembly: each document is segmented into fixed 12-word "
        "chunks (the paragraph proxy for the newline-free synthetic "
        "corpus), every chunk occurrence EXCEPT the corpus-wide first "
        "(ordered by doc_id then position) is dropped, and the "
        "surviving chunks are re-joined in document order. This is the "
        "boilerplate-removal pass CommonCrawl pipelines run before "
        "doc-level dedup: headers/footers repeated across pages vanish "
        "while each page keeps its unique body. Scale shape: chunking "
        "is a pure higher-order-function projection (no explode until "
        "after slicing); first-occurrence resolution shuffles the "
        "32-char MD5 key + a single packed BIGINT order key — never "
        "the chunk text as a shuffle KEY — via groupBy-min + "
        "re-join (self-equi-join on the hash, broadcast-eligible "
        "firsts at low dup rates); reassembly is one shuffle on "
        "doc_id. At 100 TB every shuffle carries hashes and ids, and "
        "text rides only where it must (the kept-chunk payload)",
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(12.0)).cast("int")
    # (r17 A/B: spread/persist variants LOST here — plain 1.08 s vs
    # spread 1.79 s vs spread+persist 1.86 s interleaved at sf0.1: the
    # 12-word chunk slicing is cheap relative to a keyless repartition
    # of the text. Left as-is deliberately; see boilerplate_chunk_stats
    # for the same finding.)
    chunks = (
        d.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(ws, i * 12 + 1, 12), " "
                    ),
                )
            ).alias("chunk_idx", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk_text",
        )
    )
    keyed = chunks.select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        F.md5(F.col("chunk_text").cast("binary")).alias("k"),
        (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("ord"),
    )
    firsts = (
        keyed.groupBy("k")
        .agg(F.min("ord").alias("ord"))
        .select(F.col("k").alias("fk"), "ord")
    )
    kept = keyed.join(
        firsts,
        (keyed["k"] == firsts["fk"]) & (keyed["ord"] == firsts["ord"]),
    ).select(keyed["doc_id"], keyed["chunk_idx"], keyed["chunk_text"])
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept_"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("kept_text"),
    )
    counts = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return counts.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept_"), F.lit(0)).cast("long").alias("n_kept"),
        "kept_text",
    )


# Drop threshold for C4-style boilerplate removal: a chunk appearing in
# >= this many DISTINCT documents is boilerplate and every occurrence
# is dropped (vs dedup_paragraph_chunks, which keeps the first).
_BOILERPLATE_MIN_DOCS = 3


@register(
    "boilerplate_chunk_removal",
    f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' ')
               AS chunk_text
      FROM words,
           UNNEST(range(CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)
    ),
    freq AS (
      SELECT md5(chunk_text) AS k, COUNT(DISTINCT doc_id) AS nd
      FROM chunks GROUP BY 1
    ),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk_text
      FROM chunks c JOIN freq ON freq.k = md5(c.chunk_text)
      WHERE freq.nd < {_BOILERPLATE_MIN_DOCS}
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(kept.chunk_idx) AS BIGINT) AS n_kept,
           string_agg(kept.chunk_text, ' ' ORDER BY kept.chunk_idx)
             AS kept_text
    FROM chunks c
    LEFT JOIN kept
      ON c.doc_id = kept.doc_id AND c.chunk_idx = kept.chunk_idx
    GROUP BY c.doc_id
    """,
    doc="C4-style boilerplate removal by CROSS-DOCUMENT FREQUENCY: any "
        "12-word chunk appearing in >= 3 distinct documents is dropped "
        "from EVERY document (headers/footers/navigation text repeated "
        "across pages — C4 drops any line occurring 3+ times in the "
        "corpus). Complements dedup_paragraph_chunks, which KEEPS the "
        "corpus-wide first occurrence: frequency removal deletes the "
        "template text itself; first-occurrence dedup merely "
        "de-duplicates it. Scale shape identical to the paragraph pass "
        "(this corpus' real boilerplate histogram: 83 chunks x2 docs, "
        "12 x3, 1 x4 at the gate SF, so the threshold demonstrably "
        "fires): chunking is a pure higher-order-function projection, "
        "the frequency table shuffles only (md5, doc_id) — a "
        "distinct-count aggregate that is corpus-vocabulary-sized and "
        "broadcast-eligible at low dup rates — and reassembly is one "
        "doc_id shuffle. Text never rides a shuffle KEY",
)
def boilerplate_chunk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.corpus import boilerplate_chunk_stats

    d = load_table(spark, sf_dir, "documents")
    return boilerplate_chunk_stats(
        d, chunk_words=12, min_docs=_BOILERPLATE_MIN_DOCS
    )


@register(
    "corpus_systematic_weighted_sample",
    """
    SELECT source, doc_id, n_chars,
           CAST(cum // 4096 - (cum - n_chars) // 4096 AS BIGINT)
             AS n_points
    FROM (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    ) t
    WHERE cum // 4096 > (cum - n_chars) // 4096
    """,
    doc="Probability-proportional-to-size SYSTEMATIC sampling: lay the "
        "per-source document stream end to end on its cumulative "
        "character axis and take one sample point every 4096 chars — a "
        "document is selected iff a stride point lands inside its span, "
        "with multiplicity n_points (docs longer than the stride carry "
        "proportionally more points, exactly the PPS weighting a "
        "token-budgeted mixture sampler needs). Deterministic and "
        "coordination-free — pure BIGINT cumulative sums and floor "
        "divisions, no RNG and no transcendental math, so any engine "
        "(and any re-run of one failed shard) selects the identical "
        "set. One window shuffle on (source), same shard-parallel "
        "shape as corpus_pack_sequences; selection itself is a "
        "codegen'd filter",
)
def corpus_systematic_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col("n_chars").cast("long")
    cum = F.sum(n).over(w)
    # Positive BIGINTs throughout, so Spark's truncating DIV and
    # DuckDB's flooring // agree exactly.
    pts = F.expr("cum DIV 4096 - (cum - n_chars) DIV 4096")
    return (
        d.select("source", "doc_id", n.alias("n_chars"))
        .withColumn("cum", cum)
        .withColumn("n_points", pts.cast("long"))
        .filter(F.col("n_points") > 0)
        .select("source", "doc_id", "n_chars", "n_points")
    )


# =========================================================================
# Corpus analytics: TF-IDF, n-grams, edit distance, gap-fill,
# histograms, cohorts, sliding windows, classifier inference
# =========================================================================


# Shared tokenization, stated identically in both engines: lowercase,
# trim, split on whitespace runs, drop empties.
_TOKENS_SQL = r"""
  SELECT doc_id,
         unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(lower(text)), '\s+') END)
           AS term
  FROM documents
"""


def _tokens(docs: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.when(F.trim("text") == "", F.array()).otherwise(toks)
            ).alias("term"),
        )
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS ({_TOKENS_SQL}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE tf.doc_id < 100
    )
    SELECT doc_id, term, tf, df, score FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
    doc="TF-IDF term scoring: per-doc term frequency x corpus rarity "
        "(linear idf tf*N/df — libm-free, so both engines emit identical "
        "doubles), top-3 terms per doc. Plan shape at 100 TB: tf is one "
        "(doc,term) shuffle, df one term shuffle, N a 1-row broadcast; "
        "the doc_id<100 probe bounds output, not compute semantics",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@register(
    "bigram_top50",
    r"""
    WITH t AS (
      SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), b AS (
      SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1]) END)
        AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n FROM b
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
    """,
    doc="Corpus bigram statistics: word-pair explode -> count -> "
        "deterministic top-50. The explode happens inside the engine "
        "(no Python), one (bigram) shuffle, TakeOrdered for the top-k",
)
def bigram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = docs.select(
        F.when(F.trim("text") == "", F.array()).otherwise(toks).alias("toks")
    )
    bigrams = with_toks.select(
        F.explode(
            F.when(F.size("toks") < 2, F.array()).otherwise(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat(toks[i], ' ', toks[i + 1]))"
                )
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@register(
    "dedup_levenshtein_pairs",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substr(lower(a.text), 1, 80),
                       substr(lower(b.text), 1, 80)) AS edit_distance
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
    doc="Edit-distance verification over candidate pairs (consecutive "
        "ids stand in for LSH candidates, as in the jaccard query). The "
        "80-char prefix bounds the O(len^2) DP cost per pair — at scale "
        "Levenshtein runs only on candidate pairs, never all-pairs",
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.substring(F.lower("text"), 1, 80).alias("ta"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.substring(F.lower("text"), 1, 80).alias("tb"),
    )
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").alias("edit_distance"),
        )
    )


@register(
    "date_spine_gap_fill",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), bounds AS (SELECT min(d) AS mind, max(d) AS maxd FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS DATE)
        AS d
      FROM bounds
    )
    SELECT s.d, dd.revenue,
           (SELECT d2.revenue FROM daily d2
            WHERE d2.d <= s.d ORDER BY d2.d DESC LIMIT 1) AS revenue_filled
    FROM spine s LEFT JOIN daily dd ON dd.d = s.d
    """,
    doc="Calendar gap-fill: dense date spine (sequence + explode) left-"
        "joined to daily revenue, missing days forward-filled with "
        "last(ignorenulls). Aggregate-first: the spine and the window "
        "run over |days| rows, so the unpartitioned frame is safe at "
        "any fact scale",
)
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("revenue")
    )
    bounds = daily.agg(F.min("d").alias("mind"), F.max("d").alias("maxd"))
    spine = bounds.select(
        F.explode(F.sequence("mind", "maxd")).alias("d")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, "d", "left")
        .select(
            "d",
            "revenue",
            F.last("revenue", ignorenulls=True).over(w).alias("revenue_filled"),
        )
    )


@register(
    "histogram_fixed_buckets",
    """
    SELECT CAST(least(floor(o_totalprice / 25000), 19) AS INTEGER) AS bucket,
           CAST(least(floor(o_totalprice / 25000), 19) * 25000 AS DOUBLE)
             AS bucket_lo,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Fixed-width histogram: bucket index from integer-floor division "
        "(IEEE-exact in both engines, unlike width_bucket which DuckDB "
        "lacks), one small-key shuffle — the profiling primitive for "
        "any numeric column at scale",
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(19)).cast("int")
    return (
        o.select(
            bucket.alias("bucket"),
            (bucket * 25000).cast("double").alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cohort_retention",
    """
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), cohorts AS (
      SELECT user_id, min(d) AS cohort_day FROM user_days GROUP BY user_id
    )
    SELECT c.cohort_day, CAST(u.d - c.cohort_day AS BIGINT) AS day_offset,
           COUNT(*) AS active_users
    FROM user_days u JOIN cohorts c USING (user_id)
    GROUP BY c.cohort_day, CAST(u.d - c.cohort_day AS BIGINT)
    """,
    doc="Cohort retention triangle: users bucketed by first-active day, "
        "activity counted per (cohort, day-offset). Two user_id "
        "shuffles (distinct + min) that AQE coalesces, then one small "
        "aggregate — integer counts only, no cross-engine float risk",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        user_days.join(cohorts, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    "sliding_window_counts",
    """
    WITH slid AS (
      SELECT event_type,
             date_trunc('hour', ts) - to_hours(CAST(k AS BIGINT))
               AS window_start,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events CROSS JOIN range(3) r(k)
    )
    SELECT window_start, event_type, COUNT(*) AS n,
           CAST(SUM(v) AS DECIMAL(18,2)) AS value_sum
    FROM slid GROUP BY window_start, event_type
    """,
    doc="Sliding windows (3h length / 1h step): every event lands in 3 "
        "overlapping windows. Spark assigns via F.window(slideDuration); "
        "the oracle states the same assignment as an explicit k=0..2 "
        "replication. Map-side replicate -> one (window,type) shuffle; "
        "decimal sums keep the overlap exact",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "3 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(AMOUNT)).cast(AMOUNT).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


@register(
    "ann_ivf_trained_topk",
    None,  # rows-only: Lloyd means are shuffle-order dependent in the
    # last ulp (mean of doubles), so trained centroids are value- but
    # not bitwise-reproducible — an equality-hash oracle would flap.
    # The untrained-centroid twin (ann_ivf_topk) carries the hash check
    # for the identical plan shape; train_kmeans convergence is pinned
    # in tests/test_scale_plans.py on planted clusters.
    doc="IVF-Flat ANN with TRAINED centroids: Lloyd k-means "
        "(operators/similarity.train_kmeans — per iteration one "
        "(cell,dim) shuffle of partial sums + a constant k x dim "
        "collect) feeds the same IVF probe/rank plan as ann_ivf_topk",
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    # iters is a cost/quality dial: measured recall@10 is identical at
    # 2 vs 3 Lloyd iterations on this data at every SF (1.0/0.9/1.0),
    # and each saved iteration saves an assignment scan + (cell,dim)
    # shuffle — so the entry runs the cheapest setting that holds the
    # tested recall floor. The probe phase runs over the SAME persisted
    # projection the trainer cached (train_kmeans_with_cache), so the
    # whole entry scans the source exactly once; the k-row result is
    # materialized eagerly so the cache can be released before return.
    cents, train = sim.train_kmeans_with_cache(e, k=8, iters=2)
    q = train.filter(F.col("vec_id") == 0)
    # assign stays "expr" at THIS scale: the Arrow probe wins above
    # ~10^4 rows (strain bench: 8.5 -> 3.7 s at 80k vectors) but at
    # sf0.1's 2,000 vectors the Python-stage startup costs more than
    # the HOF assignment it replaces (measured 1.45 -> 1.9 s). A real
    # corpus-scale caller passes assign="arrow" — the strain bench does.
    top = sim.ivf_topk(train, q, k=10, centroids=cents).select(
        "vec_id", F.round("cosine", 9).alias("cosine")
    )
    rows = top.collect()
    train.unpersist()
    return spark.createDataFrame(rows, top.schema)


@register(
    "ann_pq_trained_topk",
    None,  # rows-only for the same reason as ann_ivf_trained_topk:
    # codebooks come from Lloyd means (shuffle-order-dependent last
    # ulp), so the ADC candidate ORDER is value- but not bitwise-
    # reproducible. The recall floor vs exact brute force is pinned in
    # tests/test_oracle_parity.py.
    doc="Product-quantization ANN (operators/similarity.train_pq / "
        "pq_topk): m=8 subspace codebooks trained JOINTLY (one "
        "(subspace,codeword,dim) shuffle per Lloyd iteration, constant "
        "driver traffic), ADC scan via a per-query lookup table "
        "computed once on the broadcast side (per-row work = m adds — "
        "the 100 TB scan reads m-byte codes, not dim floats), "
        "k*oversample candidates reranked by exact cosine",
)
def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    # Same single-source-scan shape as ann_ivf_trained_topk: the ADC
    # scan + query pull reuse the trainer's persisted projection, and
    # the k-row result is materialized eagerly so the cache releases.
    books, train = sim.train_pq_with_cache(e, m=8, ksub=16, iters=2)
    q = train.filter(F.col("vec_id") == 0)
    # encode stays "expr" at this scale (see ann_ivf_trained_topk's
    # assign note; the strain bench runs the Arrow encode at 80k rows).
    top = sim.pq_topk(
        train, q, k=10, codebooks=books, oversample=8
    ).select(
        "vec_id",
        F.round("approx_l2sq", 6).alias("approx_l2sq"),
        F.round("cosine", 9).alias("cosine"),
    )
    rows = top.collect()
    train.unpersist()
    return spark.createDataFrame(rows, top.schema)


@register(
    "dq_expectations",
    """
    SELECT 'orders.o_custkey.not_null' AS rule,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice.range' AS rule,
           CAST(SUM(CASE WHEN o_totalprice IS NULL
                          OR o_totalprice < 0
                          OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey.unique' AS rule,
           CAST(SUM(n - 1) AS BIGINT) AS n_violations
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey) t
    UNION ALL
    SELECT 'lineitem.l_orderkey.ref_orders' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM lineitem l
    WHERE l.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    """,
    doc="Data-quality publish gate (operators/quality.py): row-level "
        "rules (not-null, range) fold into ONE conditional-agg scan — a "
        "new rule is a new column, not a new pass; uniqueness is one "
        "keyed groupBy; referential integrity one broadcast anti-join. "
        "Exact violation counts, so the whole report is hash-checked. "
        "Pairs with the atomic day commit: red report, no publish",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import quality as dq

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rows = dq.row_rules_report(
        o,
        {
            "orders.o_custkey.not_null": F.col("o_custkey").isNull(),
            "orders.o_totalprice.range": (
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") < 0)
                | (F.col("o_totalprice") > 1_000_000)
            ),
        },
    )
    uniq = dq.unique_report(o, ["o_orderkey"], "orders.o_orderkey.unique")
    ref = dq.ref_integrity_report(
        li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey.ref_orders"
    )
    return dq.combine_reports(rows, uniq, ref)


@register(
    "ann_lsh_recall",
    """
    WITH bf AS (
    WITH q AS (SELECT embedding AS __qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           CASE WHEN sqrt(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * sqrt(list_sum(list_transform(list_zip(q.__qv, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0 THEN list_sum(list_transform(list_zip(embedding, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * sqrt(list_sum(list_transform(list_zip(q.__qv, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))) END AS cosine
    FROM embeddings, q
    ORDER BY cosine DESC, vec_id LIMIT 10
    ),
    ap AS (
    WITH q AS (SELECT embedding AS __qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           CASE WHEN sqrt(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * sqrt(list_sum(list_transform(list_zip(q.__qv, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0 THEN list_sum(list_transform(list_zip(embedding, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(list_zip(embedding, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * sqrt(list_sum(list_transform(list_zip(q.__qv, q.__qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))) END AS cosine
    FROM embeddings, q
    WHERE bit_count(xor((CASE WHEN list_sum(list_transform(list_zip(embedding, [-0.2558802884476004, 0.511431512516514, -0.2260961647831047, -0.3150684223311854, -0.9300181903227674, -0.21330194742120367, 1.1119173809863208, 0.42414668412593615, 1.0368790788896665, 0.24890272766509133, 0.39476963461375775, 0.18532666042839877, -1.6660625253119432, 0.8552509687647372, 0.5063848458947204, 0.498818038161944, -1.6913645518484226, -1.7438881172756033, -0.8896153448069297, -0.4681892757332346, 0.3054459918324407, -0.045911730512585354, 0.520974898420902, -0.6422347498744938, 0.3087031492108811, 0.39415447685921007, -0.6611373475321424, 1.7175303173337426, 0.5566093558674555, 1.197005237979008, -0.6203329144828438, -0.7395158962247732, -0.34404667916316806, -0.10642133153854398, 0.6320787450321489, 0.24842725356969214, -0.44735489523216543, -0.9569123136623718, -0.5205903100665388, 1.2209213148999039, -0.8079464283078355, 0.24475874731607522, 0.4265189746741636, -1.4897431348611148, 0.048474357805962036, 1.3062435998070716, -2.014363824710263, -0.32159385106567046, -0.10613916862568372, -0.8172603024370143, 0.49739001119925413, -0.0622798949329554, -1.4646566571540556, 0.8278458784913143, 0.669335689821001, 0.9458417924074138, 1.440597413192603, 0.3622436703483417, 0.1192741503501188, -1.29916808473125, 0.6154432127149754, -0.6117589196103815, -0.4527018996188372, -1.2647877743013232]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [-0.9676143272108394, -0.5311210926158692, 1.288837543075987, -2.0317920474486755, -1.4577055535788668, 0.23935109637450452, 1.443349754156496, 0.5784969503748149, -1.899943276931952, -2.5182348300312385, 0.35739721571102645, -0.7362619397364518, -1.119786573527076, 0.9773712414195629, 1.101786204180404, 0.1572518804384863, 0.2457765102792436, 0.43436280983213216, 1.594004056931279, 0.6190286032553851, 0.5186495389757707, 0.5477375736312311, -1.5683105225549592, 1.2817335184040903, 0.955102083496128, 0.5296237217996917, -1.97387543553663, -0.6336800255863366, 0.842303593847481, -1.8112142525213255, -0.1840222293260406, 1.0195276718522928, -1.3111886130114665, 1.6101061983748743, 0.5519639717948621, -0.15013875127978507, 0.3248668210047183, 0.6498309914451523, 0.12039372620354538, 1.1456602358579617, -0.6615445657523961, -0.41473615589334284, 1.0416845530735936, 0.026798941547276814, -0.8804640811194406, 0.9464552654932115, 1.4654975743027467, -0.4448260851557471, -1.379993187160495, -0.13474820169311302, -0.1490188036402389, -0.2979996496335803, 1.4047703035775652, -1.0269364739157945, 1.2605866448383238, -1.2683219790736193, -0.7870394671827289, 0.6315212788981737, 1.128690305549404, 0.8590023502535399, 0.3452247461920301, 0.14235633795275582, 0.15248179045684337, 0.5752802708340415]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(2 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [-0.17619745775629098, 0.2774359968472974, 0.5727265336329771, 0.0008394764737400608, 0.7639823885379302, 0.5658781291403443, 2.0106321963650546, 0.32494263677272134, -0.4275929519432337, -0.3725512159128706, -0.013105597765684358, 0.9237846044248513, -0.3365636884977564, 0.3858259920571797, 1.8373012776494662, -2.564679474213934, -1.1239085853390323, 0.24389701690330107, 0.39833539441746396, 0.23857332886106958, -0.43115149906475186, 0.6551461933291434, 0.2821300659532711, -0.5220513382734014, 2.4300538751667524, 0.35513286238489494, -0.5542289707468753, -0.09944855217688697, -0.22559529002503245, -0.06274154660763057, -2.7280853409502006, -0.48689902987749445, 1.0085695080504102, -1.1685622644599787, -0.06670019084833684, 0.953505373781144, 0.8561767658598077, 1.4910519966346505, -1.7014133444479123, -0.35337600676388026, -0.3409499885992652, 0.6232898459421933, 1.0917875038700675, -2.6828295707823213, 1.0886792902698061, -1.4475434222626538, 0.6831498761023059, -1.4921384033709648, 0.1758527333971162, 1.194654610342507, -0.14931961088595433, 0.19110309114851495, 0.7971236448445002, 0.14137719514721223, -0.08848138185253349, 1.5332560594607463, 1.0484707258760626, -0.29381505949002173, 2.745325222713014, -1.1468390443176453, 0.9146091156866576, -0.2657145773117556, 0.13236571689072277, 0.7050056181659022]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(4 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [0.22222213219388434, 0.6386453076620816, -1.5273253626636443, -1.5095110821216398, 0.614942589651404, -0.9631584954660181, -1.0266482477157042, -1.4701393872716566, 1.2663800510697516, 0.7465580088791107, 1.4730747223165876, -0.9377376926458102, 0.001006361176401166, -1.1403069023670096, 0.7660373851792844, 1.5894228933877312, -0.8902210016364664, 1.560331722877474, 0.9880294936192074, -0.17783466698270087, -1.9719706859297967, 1.406631736935783, -0.09626049184656091, -0.6028282452915394, 0.3995953804847207, 0.4099643344682516, 1.4980950388878669, -1.020140810726624, 1.1362373205344798, 1.487360381407538, 1.4522360099017078, -0.18062457323422282, -0.7440285519188423, 1.0185727246115932, 0.11518531261028207, 0.12418948586415564, 1.424214629128952, -0.2634364671048731, -2.2967252108090643, -0.3871912071663193, -1.8539231821091202, 0.8187833309098644, 0.31703478716395445, -0.6112071513291476, -0.009599297743796214, 0.8326240130700854, 0.07894509069111393, 1.3265215121954472, -0.061284815505433334, 1.0403347667816991, 1.4914807619775488, 1.6098929837444262, -0.6718193753931158, 0.8799042085322046, -1.8759959069652823, -1.0833493949516109, -1.9627915133159943, 1.0689856225433496, -1.2319347228695534, -0.012764042825850742, -0.19221398052462813, -0.028597527773578522, -0.5915217765351448, 0.23366317531436248]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(8 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [1.7912670882203054, 0.04426855356723932, 0.5309821489194161, 1.000519367767209, -0.1979476908918288, -1.2596911318386328, -0.5553954715373572, 1.0735947393673675, -1.6462255708492126, -0.5978458205505127, 1.0074106526294715, 0.792736649857606, 0.007618128232682514, 0.8052357958724505, 0.16597943232983933, -1.1789154574572682, -1.563942369215198, -0.6389521365384299, 0.9227301102209123, -0.565545151756395, -0.9023586004604149, -0.7709605117789752, -1.5317669524976807, -0.11727492029984514, -1.1796069523217882, 0.3641459668086755, -2.3600964126154564, 0.3277812095660942, -0.6416107567993177, -1.9421479266214765, 0.724709448402856, -0.275508251441208, -2.2300367831585772, -0.8750631970150292, 0.29102424481911965, -0.4585822105092044, 0.779983687525831, 0.7475569414124802, 0.6662366416423052, 0.32662528809543556, 1.3336969496355782, 0.6598341701579238, 0.4512181743988895, -2.083978902544166, 0.8965557800878597, 1.3094251555769685, -0.2968980826814108, -0.4695074406834185, 1.9402984589295469, -1.7581325394842842, 0.46885693299161335, 2.423715777281978, -0.9276007408351008, 0.6895887603103621, 1.8863808434044749, -0.12021071198239965, 0.5611968429225049, 0.9025756438758757, -0.9057683298953746, -0.08909580115966619, 0.2928017222234918, 0.825384906595379, -0.03453411691863202, -0.19534031540028793]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(16 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [-1.016076060079454, -0.3589751774969397, 0.8916724552611744, 0.10174321702968378, -0.8530284462353348, -0.8416040883173763, 2.666679825295587, 1.1398942914069643, 0.637395441622035, -2.592918898090674, 0.621481570776758, 0.48069350043843734, 1.6840969559442966, 0.42776084526170044, -0.06748832720249312, 0.5224442730982287, -1.9442084464296083, 1.033253241769541, 0.3248848734274768, -0.7020713026445065, 1.325572315677972, 1.8093395348223056, -1.402401228611634, -0.6663342386941895, 0.2912654431574569, 0.18346504177956124, -0.3984806573532425, -0.9742108071691844, 2.1204674058622515, 1.0373874109296344, -1.1942285957085124, -1.3450079820248242, 1.7031284920759695, 0.9891487891565814, 1.820970607270463, 0.8101433981225372, -0.8720754993863207, 0.26066547473298435, -2.160062416568297, -0.7481188302399433, -0.058908982229867, 0.5227548093943034, -0.7275513172705698, -0.12422421999156745, 0.45854719384586046, 0.376688787759155, 0.6379962841237677, 0.20898171852910344, -0.32393469662347757, 0.7891569632740172, 0.04935941790144371, -0.8260956022644346, -0.6259281672414992, -0.0003484475806431715, -0.10960369347001762, 0.15699424609521928, -0.0004958849679764077, 0.1758690699903359, -0.1342889896191048, -1.2584316011337113, 0.4213535592448479, 1.0536904504800653, 0.4346429352825692, -0.18924595822576348]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(32 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [0.44644665650948395, -0.9657010423740481, -1.8961531756825247, 0.05957024966203895, -0.9304976329219786, 0.7398599481333216, -1.0840906717651568, -2.628511432075103, -1.0395226884123763, 1.5780967401290318, -0.3818033286205225, -1.3694168067017838, -0.7633562839852815, 0.520898655056202, 0.49686423811349806, 0.17672875318688114, 1.4838642658063117, 0.7065025447280779, -0.020979909141473713, 0.5966669120833509, 1.6545860935017942, 0.971304945593449, 1.0237597826702733, -1.0828372844057328, -0.14843519456996054, 0.7298442914317965, -0.2964432453781687, 1.0688632144273222, 0.5963419635480423, 0.9082534689825247, -0.21237088990078296, 2.5463764836647713, 1.2400161897093194, -0.21543010476758634, 0.09059300864705437, 2.5952025139623336, -0.34322777470918536, 0.8741407380438729, 0.9804500257760985, 0.006584988332417954, -1.167138016866306, 0.1875364183964114, 0.35937927448587953, 1.1296785967002612, 0.7828891128938156, 0.02435970621233787, 0.8535762830626829, 0.5398425766432218, 0.2060434449689193, 0.055209578498671176, -0.24336018464449743, 0.6861605282192298, -1.0542088800284215, -0.6286835811278161, 0.004972936711498993, -1.4639663778121925, -0.43588140400803865, -2.0088395898433213, -0.6828850075190759, 0.5684349624186116, 0.5663951026506014, -0.05451299571746937, -0.23211351056613844, -1.4168246541983565]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(64 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(embedding, [1.8278151253037656, 0.5159691616624552, 1.0934506037636198, -0.8823271029670696, -0.1852444386554462, -1.8195167978876483, 0.7804923947819691, 0.9351400527192655, -1.8974051839466384, -0.05212367910547839, 0.6303434386933779, -1.762037227755762, -1.8254478155207081, -1.0650883503948672, -0.629224944998689, -1.4028602284818976, 0.03162934158682392, 0.24962425761801954, 0.6340116010708582, 0.70200824902567, 1.5026538441640664, 1.1643151740236712, -1.311878116797154, -0.5054175928278377, -1.0601507190591477, -1.076617124905242, -0.0812998538013968, 0.0054769630062941835, 0.49035684405120333, -1.586918325254051, -1.2376434996447203, -0.02310660772708893, -0.19945796605063534, -0.3112587884091141, -0.06321349632468054, -0.7597540303647355, 0.7012722141213236, 0.35426881080815475, -0.08775594372935469, -0.6720658716369531, -0.1741715733627921, -2.721601111763595, -0.9813026676215106, 0.03732804237598765, -1.5040935224819179, 0.19952252672976203, 0.14743926735615345, -1.3775218904993902, -0.25057313844804885, -0.3138276811563881, 0.4598741168617127, 0.6118946460021436, -0.03630154575893051, -0.8512887093783155, -0.1442722768918604, -0.06542723245322807, 0.7344610172551004, 0.2943281185692263, -0.7225613759567885, -1.354407187990065, -0.37311186447078276, -0.7403932915202204, -1.1118792357097451, -0.11593819522959055]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(128 AS BIGINT) ELSE 0 END), (CASE WHEN list_sum(list_transform(list_zip(q.__qv, [-0.2558802884476004, 0.511431512516514, -0.2260961647831047, -0.3150684223311854, -0.9300181903227674, -0.21330194742120367, 1.1119173809863208, 0.42414668412593615, 1.0368790788896665, 0.24890272766509133, 0.39476963461375775, 0.18532666042839877, -1.6660625253119432, 0.8552509687647372, 0.5063848458947204, 0.498818038161944, -1.6913645518484226, -1.7438881172756033, -0.8896153448069297, -0.4681892757332346, 0.3054459918324407, -0.045911730512585354, 0.520974898420902, -0.6422347498744938, 0.3087031492108811, 0.39415447685921007, -0.6611373475321424, 1.7175303173337426, 0.5566093558674555, 1.197005237979008, -0.6203329144828438, -0.7395158962247732, -0.34404667916316806, -0.10642133153854398, 0.6320787450321489, 0.24842725356969214, -0.44735489523216543, -0.9569123136623718, -0.5205903100665388, 1.2209213148999039, -0.8079464283078355, 0.24475874731607522, 0.4265189746741636, -1.4897431348611148, 0.048474357805962036, 1.3062435998070716, -2.014363824710263, -0.32159385106567046, -0.10613916862568372, -0.8172603024370143, 0.49739001119925413, -0.0622798949329554, -1.4646566571540556, 0.8278458784913143, 0.669335689821001, 0.9458417924074138, 1.440597413192603, 0.3622436703483417, 0.1192741503501188, -1.29916808473125, 0.6154432127149754, -0.6117589196103815, -0.4527018996188372, -1.2647877743013232]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [-0.9676143272108394, -0.5311210926158692, 1.288837543075987, -2.0317920474486755, -1.4577055535788668, 0.23935109637450452, 1.443349754156496, 0.5784969503748149, -1.899943276931952, -2.5182348300312385, 0.35739721571102645, -0.7362619397364518, -1.119786573527076, 0.9773712414195629, 1.101786204180404, 0.1572518804384863, 0.2457765102792436, 0.43436280983213216, 1.594004056931279, 0.6190286032553851, 0.5186495389757707, 0.5477375736312311, -1.5683105225549592, 1.2817335184040903, 0.955102083496128, 0.5296237217996917, -1.97387543553663, -0.6336800255863366, 0.842303593847481, -1.8112142525213255, -0.1840222293260406, 1.0195276718522928, -1.3111886130114665, 1.6101061983748743, 0.5519639717948621, -0.15013875127978507, 0.3248668210047183, 0.6498309914451523, 0.12039372620354538, 1.1456602358579617, -0.6615445657523961, -0.41473615589334284, 1.0416845530735936, 0.026798941547276814, -0.8804640811194406, 0.9464552654932115, 1.4654975743027467, -0.4448260851557471, -1.379993187160495, -0.13474820169311302, -0.1490188036402389, -0.2979996496335803, 1.4047703035775652, -1.0269364739157945, 1.2605866448383238, -1.2683219790736193, -0.7870394671827289, 0.6315212788981737, 1.128690305549404, 0.8590023502535399, 0.3452247461920301, 0.14235633795275582, 0.15248179045684337, 0.5752802708340415]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(2 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [-0.17619745775629098, 0.2774359968472974, 0.5727265336329771, 0.0008394764737400608, 0.7639823885379302, 0.5658781291403443, 2.0106321963650546, 0.32494263677272134, -0.4275929519432337, -0.3725512159128706, -0.013105597765684358, 0.9237846044248513, -0.3365636884977564, 0.3858259920571797, 1.8373012776494662, -2.564679474213934, -1.1239085853390323, 0.24389701690330107, 0.39833539441746396, 0.23857332886106958, -0.43115149906475186, 0.6551461933291434, 0.2821300659532711, -0.5220513382734014, 2.4300538751667524, 0.35513286238489494, -0.5542289707468753, -0.09944855217688697, -0.22559529002503245, -0.06274154660763057, -2.7280853409502006, -0.48689902987749445, 1.0085695080504102, -1.1685622644599787, -0.06670019084833684, 0.953505373781144, 0.8561767658598077, 1.4910519966346505, -1.7014133444479123, -0.35337600676388026, -0.3409499885992652, 0.6232898459421933, 1.0917875038700675, -2.6828295707823213, 1.0886792902698061, -1.4475434222626538, 0.6831498761023059, -1.4921384033709648, 0.1758527333971162, 1.194654610342507, -0.14931961088595433, 0.19110309114851495, 0.7971236448445002, 0.14137719514721223, -0.08848138185253349, 1.5332560594607463, 1.0484707258760626, -0.29381505949002173, 2.745325222713014, -1.1468390443176453, 0.9146091156866576, -0.2657145773117556, 0.13236571689072277, 0.7050056181659022]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(4 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [0.22222213219388434, 0.6386453076620816, -1.5273253626636443, -1.5095110821216398, 0.614942589651404, -0.9631584954660181, -1.0266482477157042, -1.4701393872716566, 1.2663800510697516, 0.7465580088791107, 1.4730747223165876, -0.9377376926458102, 0.001006361176401166, -1.1403069023670096, 0.7660373851792844, 1.5894228933877312, -0.8902210016364664, 1.560331722877474, 0.9880294936192074, -0.17783466698270087, -1.9719706859297967, 1.406631736935783, -0.09626049184656091, -0.6028282452915394, 0.3995953804847207, 0.4099643344682516, 1.4980950388878669, -1.020140810726624, 1.1362373205344798, 1.487360381407538, 1.4522360099017078, -0.18062457323422282, -0.7440285519188423, 1.0185727246115932, 0.11518531261028207, 0.12418948586415564, 1.424214629128952, -0.2634364671048731, -2.2967252108090643, -0.3871912071663193, -1.8539231821091202, 0.8187833309098644, 0.31703478716395445, -0.6112071513291476, -0.009599297743796214, 0.8326240130700854, 0.07894509069111393, 1.3265215121954472, -0.061284815505433334, 1.0403347667816991, 1.4914807619775488, 1.6098929837444262, -0.6718193753931158, 0.8799042085322046, -1.8759959069652823, -1.0833493949516109, -1.9627915133159943, 1.0689856225433496, -1.2319347228695534, -0.012764042825850742, -0.19221398052462813, -0.028597527773578522, -0.5915217765351448, 0.23366317531436248]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(8 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [1.7912670882203054, 0.04426855356723932, 0.5309821489194161, 1.000519367767209, -0.1979476908918288, -1.2596911318386328, -0.5553954715373572, 1.0735947393673675, -1.6462255708492126, -0.5978458205505127, 1.0074106526294715, 0.792736649857606, 0.007618128232682514, 0.8052357958724505, 0.16597943232983933, -1.1789154574572682, -1.563942369215198, -0.6389521365384299, 0.9227301102209123, -0.565545151756395, -0.9023586004604149, -0.7709605117789752, -1.5317669524976807, -0.11727492029984514, -1.1796069523217882, 0.3641459668086755, -2.3600964126154564, 0.3277812095660942, -0.6416107567993177, -1.9421479266214765, 0.724709448402856, -0.275508251441208, -2.2300367831585772, -0.8750631970150292, 0.29102424481911965, -0.4585822105092044, 0.779983687525831, 0.7475569414124802, 0.6662366416423052, 0.32662528809543556, 1.3336969496355782, 0.6598341701579238, 0.4512181743988895, -2.083978902544166, 0.8965557800878597, 1.3094251555769685, -0.2968980826814108, -0.4695074406834185, 1.9402984589295469, -1.7581325394842842, 0.46885693299161335, 2.423715777281978, -0.9276007408351008, 0.6895887603103621, 1.8863808434044749, -0.12021071198239965, 0.5611968429225049, 0.9025756438758757, -0.9057683298953746, -0.08909580115966619, 0.2928017222234918, 0.825384906595379, -0.03453411691863202, -0.19534031540028793]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(16 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [-1.016076060079454, -0.3589751774969397, 0.8916724552611744, 0.10174321702968378, -0.8530284462353348, -0.8416040883173763, 2.666679825295587, 1.1398942914069643, 0.637395441622035, -2.592918898090674, 0.621481570776758, 0.48069350043843734, 1.6840969559442966, 0.42776084526170044, -0.06748832720249312, 0.5224442730982287, -1.9442084464296083, 1.033253241769541, 0.3248848734274768, -0.7020713026445065, 1.325572315677972, 1.8093395348223056, -1.402401228611634, -0.6663342386941895, 0.2912654431574569, 0.18346504177956124, -0.3984806573532425, -0.9742108071691844, 2.1204674058622515, 1.0373874109296344, -1.1942285957085124, -1.3450079820248242, 1.7031284920759695, 0.9891487891565814, 1.820970607270463, 0.8101433981225372, -0.8720754993863207, 0.26066547473298435, -2.160062416568297, -0.7481188302399433, -0.058908982229867, 0.5227548093943034, -0.7275513172705698, -0.12422421999156745, 0.45854719384586046, 0.376688787759155, 0.6379962841237677, 0.20898171852910344, -0.32393469662347757, 0.7891569632740172, 0.04935941790144371, -0.8260956022644346, -0.6259281672414992, -0.0003484475806431715, -0.10960369347001762, 0.15699424609521928, -0.0004958849679764077, 0.1758690699903359, -0.1342889896191048, -1.2584316011337113, 0.4213535592448479, 1.0536904504800653, 0.4346429352825692, -0.18924595822576348]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(32 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [0.44644665650948395, -0.9657010423740481, -1.8961531756825247, 0.05957024966203895, -0.9304976329219786, 0.7398599481333216, -1.0840906717651568, -2.628511432075103, -1.0395226884123763, 1.5780967401290318, -0.3818033286205225, -1.3694168067017838, -0.7633562839852815, 0.520898655056202, 0.49686423811349806, 0.17672875318688114, 1.4838642658063117, 0.7065025447280779, -0.020979909141473713, 0.5966669120833509, 1.6545860935017942, 0.971304945593449, 1.0237597826702733, -1.0828372844057328, -0.14843519456996054, 0.7298442914317965, -0.2964432453781687, 1.0688632144273222, 0.5963419635480423, 0.9082534689825247, -0.21237088990078296, 2.5463764836647713, 1.2400161897093194, -0.21543010476758634, 0.09059300864705437, 2.5952025139623336, -0.34322777470918536, 0.8741407380438729, 0.9804500257760985, 0.006584988332417954, -1.167138016866306, 0.1875364183964114, 0.35937927448587953, 1.1296785967002612, 0.7828891128938156, 0.02435970621233787, 0.8535762830626829, 0.5398425766432218, 0.2060434449689193, 0.055209578498671176, -0.24336018464449743, 0.6861605282192298, -1.0542088800284215, -0.6286835811278161, 0.004972936711498993, -1.4639663778121925, -0.43588140400803865, -2.0088395898433213, -0.6828850075190759, 0.5684349624186116, 0.5663951026506014, -0.05451299571746937, -0.23211351056613844, -1.4168246541983565]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(64 AS BIGINT) ELSE 0 END + CASE WHEN list_sum(list_transform(list_zip(q.__qv, [1.8278151253037656, 0.5159691616624552, 1.0934506037636198, -0.8823271029670696, -0.1852444386554462, -1.8195167978876483, 0.7804923947819691, 0.9351400527192655, -1.8974051839466384, -0.05212367910547839, 0.6303434386933779, -1.762037227755762, -1.8254478155207081, -1.0650883503948672, -0.629224944998689, -1.4028602284818976, 0.03162934158682392, 0.24962425761801954, 0.6340116010708582, 0.70200824902567, 1.5026538441640664, 1.1643151740236712, -1.311878116797154, -0.5054175928278377, -1.0601507190591477, -1.076617124905242, -0.0812998538013968, 0.0054769630062941835, 0.49035684405120333, -1.586918325254051, -1.2376434996447203, -0.02310660772708893, -0.19945796605063534, -0.3112587884091141, -0.06321349632468054, -0.7597540303647355, 0.7012722141213236, 0.35426881080815475, -0.08775594372935469, -0.6720658716369531, -0.1741715733627921, -2.721601111763595, -0.9813026676215106, 0.03732804237598765, -1.5040935224819179, 0.19952252672976203, 0.14743926735615345, -1.3775218904993902, -0.25057313844804885, -0.3138276811563881, 0.4598741168617127, 0.6118946460021436, -0.03630154575893051, -0.8512887093783155, -0.1442722768918604, -0.06542723245322807, 0.7344610172551004, 0.2943281185692263, -0.7225613759567885, -1.354407187990065, -0.37311186447078276, -0.7403932915202204, -1.1118792357097451, -0.11593819522959055]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0 THEN CAST(128 AS BIGINT) ELSE 0 END))) <= 1
    ORDER BY cosine DESC, vec_id LIMIT 10
    )
    SELECT CAST(10 AS INTEGER) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS DOUBLE) / 10 AS recall
    FROM bf JOIN ap ON ap.vec_id = bf.vec_id
    """,
    doc="Measured ANN quality: recall@10 of the LSH-bucketed search "
        "against the exact brute-force top-10, as an oracle-checked "
        "number (|approx intersect exact| / k). The approximation "
        "quality of the scale path is a tested quantity, not a claim",
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    bf = sim.brute_force_topk(e, q, k=10).select("vec_id")
    ap = sim.lsh_topk(e, q, k=10).select("vec_id")
    hits = bf.join(ap, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / 10).alias("recall"),
    )


@register(
    "source_curation_stats",
    """
    WITH per_doc AS (
      SELECT source, doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS n_tok
      FROM documents
    ), n AS (SELECT COUNT(*) AS total_docs FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*)
             AS dup_rate,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS DOUBLE) / any_value(n.total_docs)
             AS corpus_share
    FROM per_doc CROSS JOIN n
    GROUP BY source
    """,
    doc="Per-source corpus health (the per-domain report web-scale "
        "curation runs before sampling): doc count, exact-duplicate "
        "rate via canonical fingerprints, token volume, corpus share. "
        "One (source) shuffle over fingerprint+count partials; the "
        "1-row total broadcasts",
)
def source_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    per_doc = d.select(
        "source",
        tx.doc_fingerprint("text").alias("fp"),
        n_tok.alias("n_tok"),
    )
    total = d.agg(F.count(F.lit(1)).alias("total_docs"))
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_exact_dups"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_exact_dups",
        (F.col("n_exact_dups").cast("double") / F.col("n_docs")).alias("dup_rate"),
        "total_tokens",
        (F.col("n_docs").cast("double") / F.col("total_docs")).alias("corpus_share"),
    )


@register(
    "repetition_filter",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS toks
      FROM documents
    ), words AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      FROM t
    ), grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    END) AS g
      FROM t
    ), gtop AS (
      SELECT doc_id, MAX(cnt) AS top_g, SUM(cnt) AS n_g FROM (
        SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g
      ) x GROUP BY doc_id
    )
    SELECT w.doc_id, w.n_tokens,
           CASE WHEN w.n_tokens > 0
                THEN CAST(w.n_tokens - w.n_distinct AS DOUBLE) / w.n_tokens
           END AS dup_word_frac,
           CASE WHEN g.n_g > 0
                THEN CAST(g.top_g AS DOUBLE) / g.n_g END AS top_bigram_frac,
           coalesce(w.n_tokens > 0, FALSE)
             AND coalesce(CAST(w.n_tokens - w.n_distinct AS DOUBLE)
                            / w.n_tokens <= 0.6, FALSE)
             AND coalesce(CAST(g.top_g AS DOUBLE) / g.n_g <= 0.2, TRUE)
             AS keep
    FROM words w LEFT JOIN gtop g ON g.doc_id = w.doc_id
    """,
    doc="Repetition filter (the Gopher/RefinedWeb quality rule family): "
        "per-doc duplicate-word fraction and most-frequent-bigram share, "
        "with a keep verdict at the standard 0.6/0.2 thresholds. "
        "Integer-count ratios via IEEE division, so the verdict is "
        "bit-identical cross-engine. Two doc_id-keyed shuffles, both "
        "over reduced per-doc partials",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = d.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array()).otherwise(toks).alias("toks"),
    )
    words = with_toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    grams = with_toks.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") < 2, F.array()).otherwise(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat(toks[i], ' ', toks[i + 1]))"
                )
            )
        ).alias("g"),
    )
    gtop = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_g"), F.sum("cnt").alias("n_g"))
    )
    dup_frac = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / F.col(
        "n_tokens"
    )
    top_frac = F.col("top_g").cast("double") / F.col("n_g")
    return (
        words.join(gtop, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") > 0, dup_frac).alias("dup_word_frac"),
            F.when(F.col("n_g") > 0, top_frac).alias("top_bigram_frac"),
            (
                F.coalesce(F.col("n_tokens") > 0, F.lit(False))
                & F.coalesce(dup_frac <= 0.6, F.lit(False))
                & F.coalesce(top_frac <= 0.2, F.lit(True))
            ).alias("keep"),
        )
    )


@register(
    "dedup_repeated_ngram_spans",
    r"""
    WITH t AS (
      SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), w0 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 8
                    THEN CAST([] AS STRUCT(start_pos BIGINT,
                                           span_hash VARCHAR)[])
                    ELSE list_transform(range(0, len(toks) - 7),
                         s -> {'start_pos': s,
                               'span_hash': md5(array_to_string(
                                   toks[s+1:s+8], ' '))}) END) AS sp
      FROM t
    ), w AS (
      SELECT doc_id, sp.start_pos AS start_pos, sp.span_hash AS span_hash
      FROM w0
    ), rep AS (
      SELECT span_hash FROM w
      GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id, w.start_pos, w.span_hash FROM w JOIN rep USING (span_hash)
    """,
    doc="Span-level exact-substring dedup (the Lee et al. 2022 "
        "'Deduplicating Training Data' operation, token-window form): "
        "every 8-token window is fingerprinted (md5 of the joined "
        "window); windows whose fingerprint appears in >= 2 distinct "
        "documents are emitted as (doc_id, start_pos) cut candidates. "
        "Sliding windows stay in-row (transform over an index sequence, "
        "ONE explode), the only shuffles are the fingerprint groupBy "
        "and the semi-join back; at 100 TB the fingerprint table is the "
        "shuffle — ~n_tokens rows — which is why production systems "
        "sample or band it; the operator shape is identical",
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 8
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    t = d.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("toks"),
    )
    spans_arr = F.when(
        F.size("toks") < n,
        F.expr("CAST(array() AS array<struct<start_pos:bigint,span_hash:string>>)"),
    ).otherwise(
        F.expr(
            f"transform(sequence(0, size(toks) - {n}), "
            f"s -> struct(CAST(s AS BIGINT) AS start_pos, "
            f"md5(concat_ws(' ', slice(toks, s + 1, {n}))) AS span_hash))"
        )
    )
    from etl_tj_project_spark.operators.dedup import _persist_once

    # The span frame feeds BOTH the repeated-fingerprint aggregate and
    # the join-back; without a persist the tokenize+window-md5 explode
    # runs twice over the corpus (round 14).
    w = _persist_once(
        t.select("doc_id", F.explode(spans_arr).alias("sp")).select(
            "doc_id", F.col("sp.start_pos").alias("start_pos"),
            F.col("sp.span_hash").alias("span_hash"),
        )
    )
    rep = (
        w.groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span_hash")
    )
    return w.join(rep, "span_hash", "left_semi").select(
        "doc_id", "start_pos", "span_hash"
    )


@register(
    "corpus_mixture_plan",
    """
    WITH weights(lang, weight_permille) AS (
      VALUES ('en', 500), ('fr', 150), ('es', 150), ('de', 100), ('zh', 100)
    ), avail AS (
      SELECT d.lang,
             CAST(SUM(CASE WHEN trim(d.text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END)
               AS BIGINT) AS avail_tokens
      FROM documents d GROUP BY d.lang
    ), scaled AS (
      SELECT a.lang, a.avail_tokens, wt.weight_permille,
             a.avail_tokens * 1000 // wt.weight_permille AS achievable_total
      FROM avail a JOIN weights wt ON wt.lang = a.lang
    ), binding AS (
      SELECT MIN(achievable_total) AS total_tokens FROM scaled
    )
    SELECT s.lang, s.avail_tokens, s.weight_permille,
           CAST(b.total_tokens * s.weight_permille // 1000 AS BIGINT)
             AS planned_tokens,
           round(CAST(b.total_tokens * s.weight_permille // 1000 AS DOUBLE)
                 / s.avail_tokens, 6) AS sample_rate
    FROM scaled s, binding b
    """,
    doc="Data-mixture planning: given per-language target weights and "
        "the corpus's available whitespace-token counts, find the "
        "binding language (min of avail/weight), the achievable total "
        "token budget, and each language's planned tokens + sampling "
        "rate. Pure integer arithmetic until the final rate (integer "
        "div, not float — both engines bit-agree); the 1-row binding "
        "total broadcasts. This is the query a pipeline runs BEFORE "
        "corpus_stratified_sample to derive its keep rates",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import token_count

    weights = spark.createDataFrame(
        [("en", 500), ("fr", 150), ("es", 150), ("de", 100), ("zh", 100)],
        "lang string, weight_permille int",
    )
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("avail_tokens")
    )
    scaled = avail.join(F.broadcast(weights), "lang").withColumn(
        "achievable_total",
        F.expr("avail_tokens * 1000 div weight_permille"),
    )
    binding = scaled.agg(F.min("achievable_total").alias("total_tokens"))
    return (
        scaled.crossJoin(F.broadcast(binding))
        .withColumn(
            "planned_tokens",
            F.expr("CAST(total_tokens * weight_permille div 1000 AS BIGINT)"),
        )
        .select(
            "lang",
            "avail_tokens",
            "weight_permille",
            "planned_tokens",
            F.round(
                F.col("planned_tokens").cast("double")
                / F.col("avail_tokens"),
                6,
            ).alias("sample_rate"),
        )
    )


# =========================================================================
# Model-based quality filter: fastText-style linear classifier inference
# =========================================================================

_CLF_VALUES = ", ".join(f"('{w}', {n})" for w, n in _clf.DEFAULT_WEIGHTS)


@register(
    "quality_classifier_inference",
    f"""
    WITH w(word, wt) AS (VALUES {_CLF_VALUES}),
    wb AS (
      SELECT {_clf.md5_bucket_sql('word')} AS bucket, SUM(wt) AS wt
      FROM w GROUP BY 1
    ),
    t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END
               AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(list_concat(
               toks,
               CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
               END)) AS feat
      FROM t
    ),
    s AS (
      SELECT f.doc_id, COUNT(*) AS n_feats,
             CAST(COALESCE(SUM(wb.wt), 0) AS BIGINT) AS score_sum
      FROM f LEFT JOIN wb ON wb.bucket = {_clf.md5_bucket_sql('f.feat')}
      GROUP BY f.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(s.score_sum, 0) AS BIGINT) AS score_sum,
           (COALESCE(s.score_sum, 0) * {_clf.SCORE_SCALE}
              >= COALESCE(s.n_feats, 0) * {_clf.THRESHOLD}
            AND COALESCE(s.n_feats, 0) > 0) AS quality
    FROM t LEFT JOIN s USING (doc_id)
    """,
    doc="fastText-style linear quality classifier INFERENCE (VERDICT "
        "r10 item 7) — the model-based document filter that runs after "
        "the rule-based corpus_quality_filter in every modern LLM data "
        "pipeline: hashed unigram+bigram features (portable md5 bucket "
        "hash, collisions deterministic on both engines) -> broadcast "
        "integer weight table -> exact BIGINT per-doc dot product -> "
        "mean-score threshold in integer cross-multiplication (no "
        "floats anywhere). All native expressions; one narrow "
        "(doc_id, bucket) explode and ONE per-doc aggregation shuffle; "
        "the weight table broadcasts at any vocabulary size (fastText "
        "buckets are int weights, KB-MB). Blank docs are KEPT with "
        "n_feats=0/quality=false, so the output row count equals the "
        "corpus row count. Precision/recall on a planted fixture is "
        "pinned in tests/test_classifier.py",
)
def quality_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = _clf.weight_table(spark, _clf.DEFAULT_WEIGHTS)
    return _clf.score_documents(docs, w)


# Epoch-allocation constants: a training-token budget of 3x the corpus
# (forces genuine upsampling) and a hard repeat cap of 4 epochs per
# language (the Gopher/LLaMA-style guard against cooking small
# high-weight sources).
_EPOCH_BUDGET_X = 3
_EPOCH_CAP = 4


@register(
    "corpus_epoch_allocation",
    f"""
    WITH weights(lang, weight_permille) AS (
      VALUES ('en', 500), ('fr', 150), ('es', 150), ('de', 100), ('zh', 100)
    ), avail AS (
      SELECT d.lang,
             CAST(SUM(CASE WHEN trim(d.text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END)
               AS BIGINT) AS avail_tokens
      FROM documents d GROUP BY d.lang
    ), budget AS (
      SELECT SUM(avail_tokens) * {_EPOCH_BUDGET_X} AS total_budget FROM avail
    ), alloc AS (
      SELECT a.lang, a.avail_tokens, wt.weight_permille,
             CAST(b.total_budget * wt.weight_permille // 1000 AS BIGINT)
               AS target_tokens
      FROM avail a JOIN weights wt ON wt.lang = a.lang, budget b
    )
    SELECT lang, avail_tokens, weight_permille, target_tokens,
           CAST(least(target_tokens, avail_tokens * {_EPOCH_CAP}) AS BIGINT)
             AS actual_tokens,
           CAST(target_tokens
                - least(target_tokens, avail_tokens * {_EPOCH_CAP})
             AS BIGINT) AS shortfall_tokens,
           CAST(least(target_tokens, avail_tokens * {_EPOCH_CAP}) * 1000
                // avail_tokens AS BIGINT) AS epochs_milli
    FROM alloc
    """,
    doc="Epoch allocation under a training-token budget — the "
        "UPSAMPLING counterpart of corpus_mixture_plan (which only "
        "plans rates <= 1): with a budget of 3x the corpus and target "
        "language shares, each language's target tokens may exceed its "
        "availability, so the allocator repeats data (epochs) up to a "
        "hard 4-epoch cap and reports the capped actual tokens, the "
        "unfillable shortfall, and the repeat factor in exact "
        "milli-epochs (integer floor-div; no floats anywhere) — the "
        "Gopher/LLaMA data-recipe step deciding how many times each "
        "source is seen in training. Shape: one per-lang token "
        "aggregate (partial-aggregatable), a 1-row budget broadcast, "
        "and a 5-row broadcast weight join — KB-sized at any corpus",
)
def corpus_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import token_count

    weights = spark.createDataFrame(
        [("en", 500), ("fr", 150), ("es", 150), ("de", 100), ("zh", 100)],
        "lang string, weight_permille int",
    )
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("avail_tokens")
    )
    budget = avail.agg(
        (F.sum("avail_tokens") * _EPOCH_BUDGET_X).alias("total_budget")
    )
    alloc = (
        avail.join(F.broadcast(weights), "lang")
        .crossJoin(F.broadcast(budget))
        .withColumn(
            "target_tokens",
            F.expr(
                "CAST(total_budget * weight_permille div 1000 AS BIGINT)"
            ),
        )
    )
    actual = F.least(
        F.col("target_tokens"), F.col("avail_tokens") * _EPOCH_CAP
    )
    return alloc.select(
        "lang",
        "avail_tokens",
        "weight_permille",
        "target_tokens",
        actual.cast("long").alias("actual_tokens"),
        (F.col("target_tokens") - actual).cast("long").alias(
            "shortfall_tokens"
        ),
        F.expr(
            f"CAST(least(target_tokens, avail_tokens * {_EPOCH_CAP}) "
            "* 1000 div avail_tokens AS BIGINT)"
        ).alias("epochs_milli"),
    )


# Per-language keep quotas for the quality-ranked sample (a mixture
# plan's output, pinned as literals so the entry is self-contained).
_QUOTA_VALUES = "('en', 40), ('fr', 15), ('es', 15), ('de', 10), ('zh', 10)"
_QUOTAS = [("en", 40), ("fr", 15), ("es", 15), ("de", 10), ("zh", 10)]


@register(
    "quality_ranked_quota_sample",
    f"""
    WITH w(word, wt) AS (VALUES {_CLF_VALUES}),
    wb AS (
      SELECT {_clf.md5_bucket_sql('word')} AS bucket, SUM(wt) AS wt
      FROM w GROUP BY 1
    ),
    t AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END
               AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(list_concat(
               toks,
               CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
               END)) AS feat
      FROM t
    ),
    s AS (
      SELECT f.doc_id,
             CAST(COALESCE(SUM(wb.wt), 0) AS BIGINT) AS score_sum
      FROM f LEFT JOIN wb ON wb.bucket = {_clf.md5_bucket_sql('f.feat')}
      GROUP BY f.doc_id
    ),
    ranked AS (
      SELECT t.lang, t.doc_id, COALESCE(s.score_sum, 0) AS score_sum,
             row_number() OVER (PARTITION BY t.lang
                                ORDER BY COALESCE(s.score_sum, 0) DESC,
                                         t.doc_id) AS rn
      FROM t LEFT JOIN s USING (doc_id)
    ),
    q(lang, quota) AS (VALUES {_QUOTA_VALUES})
    SELECT r.lang, CAST(r.rn AS BIGINT) AS rn, r.doc_id,
           CAST(r.score_sum AS BIGINT) AS score_sum
    FROM ranked r JOIN q ON q.lang = r.lang
    WHERE r.rn <= q.quota
    """,
    doc="Quality-ranked quota sampling — the curriculum/selection step "
        "composing two r11 operators: every document is scored by the "
        "linear classifier (exact BIGINT dot product), ranked WITHIN "
        "its language by (score DESC, doc_id) — the deterministic "
        "tiebreak makes the selected SET reproducible — and the top "
        "quota_l per language is kept (quotas = a mixture plan's "
        "output, broadcast). This is 'take the best N tokens per "
        "source' from the LLaMA/phi-style data recipes, as one query. "
        "Scale shape: scoring is the classifier's single aggregation "
        "shuffle; ranking is a per-language window over (lang, "
        "doc_id, score) triples — id-sized rows, and the quota bound "
        "means rank() could early-stop via TopK per group at 100 TB "
        "(w1_topk_per_group pins that plan); quotas broadcast",
)
def quality_ranked_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = _clf.weight_table(spark, _clf.DEFAULT_WEIGHTS)
    scored = _clf.score_documents(docs, w).select("doc_id", "score_sum")
    quotas = spark.createDataFrame(_QUOTAS, "lang string, quota int")
    ranked = (
        docs.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .withColumn("score_sum", F.coalesce(F.col("score_sum"), F.lit(0)))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("score_sum").desc(), "doc_id"
                )
            ),
        )
    )
    return (
        ranked.join(F.broadcast(quotas), "lang")
        .filter(F.col("rn") <= F.col("quota"))
        .select(
            "lang",
            F.col("rn").cast("long").alias("rn"),
            "doc_id",
            F.col("score_sum").cast("long").alias("score_sum"),
        )
    )


_DUP_CURVE_NS = (5, 8, 13)


@register(
    "ngram_dup_rate_curve",
    f"""
    WITH t AS (
      SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END
               AS toks
      FROM documents
    ),
    g AS (
      SELECT n.n,
             unnest(CASE WHEN len(toks) < n.n THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks) - n.n + 2),
                         i -> array_to_string(toks[i : i + n.n - 1], ' '))
                    END) AS gram
      FROM t, unnest([{', '.join(str(n) for n in _DUP_CURVE_NS)}]) AS n(n)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT md5(gram)) AS BIGINT) AS distinct_ngrams,
           CAST((COUNT(*) - COUNT(DISTINCT md5(gram))) * 1000 // COUNT(*)
             AS BIGINT) AS dup_rate_milli
    FROM g GROUP BY n
    """,
    doc="n-gram duplication-rate curve: corpus-wide total vs distinct "
        "n-gram counts at n = 5, 8, 13 — the measurement that TUNES the "
        "span-dedup / decontamination n (too small = false positives "
        "on common phrases, too large = misses; the curve's knee is "
        "the answer; 13 is the Gopher/GPT-3 convention the "
        "decontaminate_13gram entry uses). One staged tokenization, "
        "one explode over (n, gram), one aggregate; distinct counting "
        "runs on md5(gram) so the shuffle carries 32-char hashes, not "
        "text — at 100 TB swap COUNT(DISTINCT) for HLL "
        "(approx_count_distinct) per the documented sketch policy. "
        "Exact integer rate (milli) — no floats",
)
def ngram_dup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.when(
        F.trim("text") == "", F.array()
    ).otherwise(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    staged = docs.select(toks.alias("toks"))
    ns = ", ".join(str(n) for n in _DUP_CURVE_NS)
    grams = staged.select(
        F.explode(F.expr(f"array({ns})")).alias("n"), "toks"
    ).select(
        "n",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < n THEN array() "
                "ELSE transform(sequence(0, size(toks) - n), "
                "i -> array_join(slice(toks, i + 1, n), ' ')) END"
            )
        ).alias("gram"),
    )
    total, dist = F.count(F.lit(1)), F.countDistinct(F.md5("gram"))
    return (
        grams.groupBy(F.col("n").cast("long").alias("n"))
        .agg(
            total.cast("long").alias("total_ngrams"),
            dist.cast("long").alias("distinct_ngrams"),
        )
        .select(
            "n",
            "total_ngrams",
            "distinct_ngrams",
            # Integer `div` end-to-end (ADVICE r11): the former
            # floor((t-d)*1000 / t) double division rounds once
            # (t-d)*1000 exceeds 2^53 — plausible at the documented
            # 100 TB corpus scale — while the DuckDB oracle's `//`
            # stays exact. BIGINT div BIGINT never leaves the integer
            # domain, so both engines agree at any corpus size.
            F.expr(
                "(total_ngrams - distinct_ngrams) * 1000 div total_ngrams"
            )
            .cast("long")
            .alias("dup_rate_milli"),
        )
    )


# =========================================================================
# Per-document quality signals: adaptive stopword fraction, unigram
# commonness, length percentile bands, quantized norm profiling
# =========================================================================


@register(
    "text_corpus_stopword_fraction",
    f"""
    WITH tok AS ({_TOKENS_SQL}),
    top20 AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
        ORDER BY cnt DESC, term LIMIT 20
      ) t
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE term IN (SELECT term FROM top20))
               AS n_stop
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_stop, 0) AS BIGINT) AS n_stop,
           CASE WHEN p.n_tokens > 0
                THEN CAST(p.n_stop AS DOUBLE) / p.n_tokens END AS stop_frac
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    doc="Corpus-ADAPTIVE stopword fraction (vs the static-list "
        "stopword_ratio in corpus_quality_filter): the stopword list is "
        "the corpus's own top-20 terms (count desc, term tiebreak), so "
        "the signal transfers to any language mix without curated lists. "
        "Plan at 100 TB: one term shuffle builds the vocabulary, top-20 "
        "is a TakeOrdered collapse broadcast back to the token stream, "
        "one doc_id shuffle aggregates — the fraction is BIGINT/BIGINT "
        "IEEE division",
)
def text_corpus_stopword_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    top20 = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(20)
        .select("term")
    )
    # The 20-row stopword table broadcasts; tagging each token with a
    # left join (vs a semi-join) lets ONE doc_id aggregation produce
    # both counts.
    tagged = tok.join(
        F.broadcast(top20.withColumn("__stop", F.lit(1))), "term", "left"
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__stop").alias("n_stop"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_stop", F.lit(0)).cast("long").alias("n_stop"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_stop").cast("double") / F.col("n_tokens"),
            ).alias("stop_frac"),
        )
    )


@register(
    "text_unigram_commonness",
    f"""
    WITH tok AS ({_TOKENS_SQL}),
    vocab AS (
      SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ),
    per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             SUM(v.cnt) AS sum_freq
      FROM tok t JOIN vocab v USING (term)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_freq AS BIGINT) AS sum_freq,
           CAST(sum_freq AS DOUBLE) / n_tokens AS mean_term_freq
    FROM per_doc
    """,
    doc="Unigram-commonness score — mean corpus frequency of a doc's "
        "tokens, the cheapest fluency/perplexity proxy (rare-garble docs "
        "score low, boilerplate scores high; used as a band filter in "
        "web curation). Plan: vocabulary via one term shuffle, token->"
        "vocab equi-join (vocab << corpus; AQE broadcasts when it fits, "
        "shuffle-join when a 100 TB vocab doesn't), one doc_id shuffle. "
        "BIGINT sums exact, final ratio IEEE division",
)
def text_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        tok.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_freq"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_freq").cast("long").alias("sum_freq"),
        (F.col("sum_freq").cast("double") / F.col("n_tokens")).alias(
            "mean_term_freq"
        ),
    )


@register(
    "doc_length_percentile_band",
    """
    SELECT doc_id, source, n_chars, pr,
           pr >= 0.05 AND pr <= 0.95 AS keep
    FROM (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars) AS pr
      FROM documents
    ) t
    """,
    doc="Per-source document-length percentile banding: drop the "
        "shortest/longest 5% WITHIN each source (a global cut would let "
        "one long-form source swallow another's whole budget). "
        "percent_rank is (rank-1)/(n-1) — integer-ratio IEEE division, "
        "bit-identical cross-engine; ties share a rank so no tiebreak "
        "is needed for determinism. One source-keyed window shuffle; "
        "at 100 TB each source partition sorts independently",
)
def doc_length_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    pr = F.percent_rank().over(w)
    return docs.select(
        "doc_id", "source", "n_chars", pr.alias("pr")
    ).withColumn("keep", (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))


@register(
    "embedding_q8_norm_profile",
    """
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
               AS q8
      FROM embeddings
    ), per_vec AS (
      SELECT label,
             CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT)
               AS l1,
             CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT)
               AS l2sq
      FROM q
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(l1) AS BIGINT) AS sum_l1,
           CAST(SUM(l1) AS DOUBLE) / COUNT(*) AS avg_l1,
           CAST(MIN(l2sq) AS BIGINT) AS min_l2sq,
           CAST(MAX(l2sq) AS BIGINT) AS max_l2sq,
           CAST(SUM(l2sq) AS DOUBLE) / COUNT(*) AS avg_l2sq
    FROM per_vec GROUP BY label
    """,
    doc="Embedding-table norm profile per label over int8-QUANTIZED "
        "vectors (the audit an ANN index build runs first: zero-norm / "
        "outlier-norm vectors poison IVF training). Quantizing first "
        "(same floor(x*127+.5) as embedding_int8_quantize) makes every "
        "sum exact integer arithmetic — the raw-float variant would be "
        "FP-order-dependent across partitions. Per-row work is in-row "
        "engine expressions; one label shuffle of integer partials",
)
def embedding_q8_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127 + 0.5).cast("long"),
    )
    zero = F.lit(0).cast("long")
    per_vec = e.select(
        "label",
        F.aggregate(q8, zero, lambda acc, x: acc + F.abs(x)).alias("l1"),
        F.aggregate(q8, zero, lambda acc, x: acc + x * x).alias("l2sq"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("l1").cast("long").alias("sum_l1"),
        (F.sum("l1").cast("double") / F.count(F.lit(1))).alias("avg_l1"),
        F.min("l2sq").cast("long").alias("min_l2sq"),
        F.max("l2sq").cast("long").alias("max_l2sq"),
        (F.sum("l2sq").cast("double") / F.count(F.lit(1))).alias("avg_l2sq"),
    )


def _incremental_lsh_oracle() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    bands_sql = _dd.minhash_bands_sql(
        "documents", "doc_id", "text", num_hashes=8, bands=4
    )
    return f"""
    WITH b AS ({bands_sql})
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                     AND a.doc_id < c.doc_id
    WHERE a.doc_id >= 400 OR c.doc_id >= 400
    """


@register(
    "dedup_incremental_lsh_candidates",
    _incremental_lsh_oracle(),
    doc="Incremental near-dup candidates: dedup a DELTA (doc_id >= 400 "
        "stands in for today's arrivals) against the whole corpus "
        "without recomputing the full band self-join — only the delta's "
        "signatures are computed and joined against the PREBUILT base "
        "band index plus its own bands "
        "(operators/dedup.incremental_lsh_candidates). At 100 TB the "
        "base index is a stored table bucketed by (band, h), so the "
        "daily probe shuffles O(delta), not O(corpus). Oracle: the "
        "full self-join restricted to pairs touching the delta — "
        "proving incremental == recompute, the same invariant as "
        "scd2_apply_changes",
)
def dedup_incremental_lsh_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 400)
    delta = d.filter(F.col("doc_id") >= 400)
    base_bands = _dd.minhash_bands(base, "doc_id", "text", 8, 4)
    return _dd.incremental_lsh_candidates(base_bands, delta, "doc_id", "text")


def _lsh_pairs_sql() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    bands_sql = _dd.minhash_bands_sql(
        "documents", "doc_id", "text", num_hashes=8, bands=4
    )
    return f"""
      WITH b AS MATERIALIZED ({bands_sql})
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                       AND a.doc_id < c.doc_id
    """


@register(
    "graph_degree_distribution",
    f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    deg AS (
      SELECT n, COUNT(*) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) all_ends GROUP BY n
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    doc="Degree distribution of the near-dup candidate graph — the "
        "profile a dedup pipeline inspects before clustering (a heavy "
        "tail means boilerplate hubs that will chain unrelated docs "
        "through connected components; the standard mitigation is "
        "dropping super-node buckets). Two shuffles over id-sized "
        "tables; the LSH candidate generation upstream is the fact-"
        "scale work",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    ends = pairs.select(F.col("doc_a").alias("n")).unionAll(
        pairs.select(F.col("doc_b").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@register(
    "graph_triangle_count",
    f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    deg AS (
      SELECT n, COUNT(*) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) all_ends GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (da.degree, p.doc_a) < (db.degree, p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS u,
             CASE WHEN (da.degree, p.doc_a) < (db.degree, p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS v
      FROM pairs p
      JOIN deg da ON da.n = p.doc_a
      JOIN deg db ON db.n = p.doc_b
    ),
    wedges AS (
      SELECT e1.v AS a, e2.v AS b
      FROM oriented e1 JOIN oriented e2
        ON e1.u = e2.u AND (e1.v < e2.v)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT 1 FROM wedges w
      WHERE EXISTS (
        SELECT 1 FROM pairs p
        WHERE (p.doc_a = least(w.a, w.b) AND p.doc_b = greatest(w.a, w.b))
      )
    ) t
    """,
    doc="Triangle count of the candidate graph via DEGREE-ORIENTED "
        "wedge counting (each edge points low->high (degree, id); "
        "wedges form only at each edge's lower endpoint, then a "
        "semi-join against the edge set closes them) — the standard "
        "MapReduce formulation that bounds per-node wedge fan-out by "
        "O(sqrt(|E|)) instead of degree^2, which is what makes it "
        "runnable on a graph with boilerplate hub nodes at corpus "
        "scale. Triangle density tells a dedup pipeline whether near-"
        "dup groups are cliquish (true template families) or chains "
        "(transitive false merges). Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    # Narrow the cached pair table (the connected-components lesson):
    # four downstream joins each launch one map task per cached
    # partition, so a 58k-row pair table at the session's full shuffle
    # width is pure scheduling overhead.
    pairs = _dd.narrow_persisted(pairs, "doc_a")
    from etl_tj_project_spark.operators.graph import triangle_count_oriented

    return triangle_count_oriented(pairs)


def _semdedup_oracle() -> str:
    dot = (
        lambda a, b: f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    cos = lambda a, b: (  # noqa: E731
        f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"
    )
    return f"""
    WITH c AS (SELECT vec_id AS cell, embedding AS cvec
               FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM c
              ORDER BY {cos('e.embedding', 'c.cvec')} DESC, c.cell DESC
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND {cos('a.embedding', 'b.embedding')} >= 0.35
    )
    SELECT a.vec_id, a.cell,
           a.vec_id IN (SELECT vec_id FROM drops) AS dropped
    FROM assigned a
    """


@register(
    "dedup_semantic_semdedup",
    _semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): cluster the embedding table, "
        "then drop all but the smallest-id member of any within-cluster "
        "pair above a cosine threshold — semantic dedup that catches "
        "paraphrases exact/MinHash dedup cannot. The cluster restriction "
        "is what makes it tractable: candidate pairs are within-cell "
        "only, never all-pairs — and at scale k GROWS with the corpus "
        "(k ~ n / target_cell_size, e.g. 100k cells for 10^8 docs) so "
        "per-cell pair work stays bounded; the fixed k=8 here is the "
        "oracle-checkable test-scale setting. Deterministic "
        "centroids (first 8 vectors; trained k-means swaps in without "
        "changing the plan — same substitution as ann_ivf_topk vs "
        "ann_ivf_trained_topk) keep the entry oracle-hash-checkable. "
        "Threshold 0.35 is matched to the synthetic embedding "
        "distribution (max pairwise cosine ~0.45) so the drop rule "
        "provably fires; production text embeddings use ~0.95",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import cosine_similarity
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r[1]]
        for r in sorted(
            e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
            key=lambda r: r[0],
        )
    ]
    assigned = e.select(
        "vec_id",
        "embedding",
        sim._cell_expr(F.col("embedding"), cents).alias("cell"),
    )
    from etl_tj_project_spark.operators.dedup import _persist_once

    assigned = _persist_once(assigned)
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity(F.col("emb_a"), F.col("emb_b")) >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce("__dropped", F.lit(False)).alias("dropped"),
    )


@register(
    "char_trigram_lang_profile",
    r"""
    WITH t AS (
      SELECT lang,
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS s
      FROM documents
    ), grams AS (
      SELECT lang,
             unnest(CASE WHEN length(s) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, length(s) - 1),
                                        i -> substr(s, i, 3)) END) AS g
      FROM t
    ), counted AS (
      SELECT lang, g, COUNT(*) AS n FROM grams GROUP BY lang, g
    )
    SELECT lang, g, CAST(n AS BIGINT) AS n
    FROM (
      SELECT lang, g, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, g) AS rn
      FROM counted
    ) x WHERE rn <= 5
    """,
    doc="Per-language char-trigram profile (top-5 by count, "
        "deterministic tie-break) — the feature family behind n-gram "
        "language ID (functions/text.lang_id is the heuristic twin; "
        "this entry exposes the learned-profile build step). The "
        "trigram explode happens engine-side over the normalized "
        "string (no Python), one (lang, gram) shuffle of count "
        "partials, then a window over the per-language count table",
)
def char_trigram_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    grams = docs.select(
        "lang",
        F.explode(
            F.when(F.length(s) < 3, F.array()).otherwise(
                F.expr(
                    "transform(sequence(1, length("
                    "regexp_replace(lower(text), '[^a-z0-9 ]', '')) - 2), "
                    "i -> substring("
                    "regexp_replace(lower(text), '[^a-z0-9 ]', ''), i, 3))"
                )
            )
        ).alias("g"),
    )
    counted = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "g")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "g", F.col("n").cast("long").alias("n"))
    )


# =========================================================================
# BPE tokenizer training (operators/bpe.py)
# =========================================================================


@register(
    "bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
             substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
             freq
      FROM vocab, unnest(range(1, length(word))) AS t(i)
    )
    SELECT a, b, CAST(SUM(freq) AS BIGINT) AS total
    FROM pairs GROUP BY a, b
    ORDER BY total DESC, a, b LIMIT 30
    """,
    doc="BPE iteration-0 statistic: adjacent symbol-pair frequencies "
        "weighted by word frequency, top 30 with the deterministic "
        "(count desc, pair) tie-break every merge decision uses. "
        "Scale shape: ONE corpus-sized shuffle builds the word "
        "vocabulary; the pair explosion runs over unique words only — "
        "at 100 TB the vocab is orders of magnitude smaller than the "
        "corpus, which is what makes distributed BPE tractable "
        "(operators/bpe.py holds the full iterative trainer; the loop "
        "is rows-only by policy, see bpe_learned_merges)",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = bpe_ops.pair_counts(bpe_ops.with_symbols(bpe_ops.word_vocab(docs)))
    return (
        counts.orderBy(F.col("total").desc(), "a", "b")
        .limit(30)
        .select("a", "b", F.col("total").cast("long").alias("total"))
    )


def _bpe_merges_oracle(n_merges: int = 8) -> str:
    """Chained-CTE DuckDB twin of the iterative BPE trainer (the
    PageRank/PCA fixed-point move applied to the merge loop, per the r5
    verdict). Each token is rendered as a ``|tok|`` wrapped segment, so
    SQL ``replace(seq, '|a||b|', '|ab|')`` — non-overlapping,
    left-to-right — reproduces ``operators/bpe.merge_pair``'s greedy
    fold exactly (adjacent matches share no characters, and a token can
    never match a pattern mid-token). One best{i}/seq{i} CTE pair per
    merge; the argmax tie-break (total DESC, a, b) matches
    ``operators/bpe.top_pair``."""
    parts = ["""WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
seq0 AS (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS seq, freq FROM vocab
)"""]
    for i in range(1, n_merges + 1):
        prev = f"seq{i - 1}"
        parts.append(f""",
best{i} AS (
  SELECT a, b, total FROM (
    SELECT t.toks[CAST(u.i AS INTEGER)] AS a,
           t.toks[CAST(u.i AS INTEGER) + 1] AS b,
           SUM(t.freq) AS total
    FROM (SELECT str_split(trim(seq, '|'), '||') AS toks, freq
          FROM {prev}) t,
         unnest(range(1, len(t.toks))) AS u(i)
    GROUP BY 1, 2
  ) ORDER BY total DESC, a, b LIMIT 1
),
seq{i} AS (
  SELECT replace(s.seq, '|' || b.a || '||' || b.b || '|',
                 '|' || b.a || b.b || '|') AS seq, s.freq
  FROM {prev} s, best{i} b
)""")
    # total >= 2 mirrors train_bpe's early stop (it breaks when the best
    # pair occurs fewer than twice). Best totals are NON-INCREASING
    # across merges — a post-merge pair (x, ab)'s occurrences are a
    # subset of the pre-merge (x, a) occurrences — so filtering each
    # step is exactly equivalent to truncating at the first sub-2 step,
    # and the two sides return identical row sets even on a degenerate
    # corpus where the trainer stops before n_merges.
    unions = " UNION ALL ".join(
        f"SELECT {i} AS step, a, b, a || b AS merged, "
        f"CAST(total AS BIGINT) AS pair_count FROM best{i + 1} "
        f"WHERE total >= 2"
        for i in range(n_merges)
    )
    parts.append(
        f"\nSELECT step, a, b, merged, pair_count FROM ({unions}) x"
    )
    return "".join(parts)


@register(
    "bpe_learned_merges",
    _bpe_merges_oracle(8),
    doc="The learned BPE merge table itself: 8 iterations of "
        "count-pairs → argmax → fold-merge over the vocabulary, all "
        "JVM-side expressions with a one-row collect per iteration "
        "(Lloyd-trainer discipline). Deterministic tie-breaks make the "
        "merge sequence reproducible. Was rows-only through r5; now "
        "hash-checked against a chained-CTE DuckDB twin where each merge "
        "is a delimiter-safe string replace — see _bpe_merges_oracle. "
        "tests/test_bpe.py additionally proves the distributed loop "
        "equals a pure-Python reference trainer merge-for-merge",
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_ops.train_bpe(docs, n_merges=8)
    rows = [
        (i, a, b, a + b, int(total))
        for i, (a, b, total) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, a string, b string, merged string, pair_count long"
    )


# The canonical fixed merge table for the corpus-encoding entry: the 8
# merges train_bpe learns on the sf0.01 documents corpus, hard-coded so
# the ENCODE operator is deterministic at every SF (the ANN precedent:
# fixed-centroid hash-checked twin of the trained path — here the
# trained path is bpe_learned_merges). Includes a chained merge
# ('m','er') so the fold's multi-char left symbols are exercised.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
]


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of the distributed corpus encoder: each word rendered
    as ``|tok|`` wrapped segments, each merge one delimiter-safe
    ``replace(seq, '|a||b|', '|ab|')`` — non-overlapping left-to-right,
    so it reproduces the greedy fold exactly (the _bpe_merges_oracle
    representation). The merge table is a literal, so the whole apply
    chain is one nested-replace expression."""
    seq = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for a, b in merges:
        seq = f"replace({seq}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
    enc AS (SELECT {seq} AS seq, freq FROM vocab),
    toks AS (
      SELECT unnest(str_split(trim(seq, '|'), '||')) AS token, freq
      FROM enc
    )
    SELECT token, CAST(SUM(freq) AS BIGINT) AS total
    FROM toks GROUP BY token
    ORDER BY total DESC, token LIMIT 50
    """


@register(
    "bpe_encode_corpus",
    _bpe_encode_oracle(BPE_FIXED_MERGES),
    doc="Distributed BPE corpus ENCODING — the missing second half of "
        "tokenizer work (VERDICT r9 item 4): apply a merge table to "
        "every document's words and surface the top-50 BPE token "
        "frequencies. The merge table is the fixed 8-merge "
        "BPE_FIXED_MERGES (sf0.01-learned, incl. a chained 'm'+'er' "
        "merge); the apply is operators/bpe.encode_corpus_vocab — all "
        "8 greedy folds composed into ONE expression tree over the "
        "distinct-word vocabulary, so a 100 TB corpus pays one "
        "exact-dedup shuffle + vocab-sized fold work, never a per-"
        "occurrence re-fold. Oracle applies the same table as chained "
        "delimiter-safe string replaces; tests/test_bpe.py additionally "
        "proves the distributed encode equals the driver-side reference "
        "encoder word-for-word under LEARNED merges",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_ops.encode_corpus_vocab(docs, BPE_FIXED_MERGES)
    return (
        enc.select("freq", F.explode("symbols").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), "token")
        .limit(50)
    )


def _pagerank_oracle() -> str:
    scale = 1_000_000
    return f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (
      SELECT deg.u AS node, {scale} // nn.n AS r FROM deg, nn
    ),
    pr1 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr0 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    ),
    pr2 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr1 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    ),
    pr3 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr2 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_fp
    FROM pr3 ORDER BY r DESC, node LIMIT 20
    """


@register(
    "graph_pagerank_fixedpoint",
    _pagerank_oracle(),
    doc="PageRank over the near-dup candidate graph (hub scoring — which "
        "documents sit at the center of boilerplate clusters), 3 "
        "damped iterations in FIXED-POINT integer arithmetic: ranks are "
        "micro-units (scale 10^6) and every step is integer div/mod, so "
        "there is no float accumulation order to diverge on and the "
        "whole iterative computation carries a full cross-engine hash "
        "check — the same determinism principle as the KMV/count-min "
        "sketches, applied to an iterative graph algorithm. Spark side "
        "is fully declarative (no driver collects): per-iteration "
        "edge-join + aggregate, the textbook distributed PageRank "
        "shape; at 100 TB each iteration is one shuffle keyed by node "
        "id, and the LSH candidate generation upstream dominates",
)
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    scale = 1_000_000
    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    edges_deg = edges.join(deg, "u")
    r = (
        deg.select(F.col("u").alias("node"))
        .crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{scale} div n").alias("r"))
    )
    for _ in range(3):
        r = (
            edges_deg.join(r, edges_deg["u"] == r["node"])
            .groupBy(F.col("v"))
            .agg(F.sum(F.expr("r div d")).alias("contrib"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("v").alias("node"),
                F.expr(f"(15 * {scale}) div (100 * n) + (85 * contrib) div 100")
                .alias("r"),
            )
        )
    return (
        r.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("r").cast("long").alias("rank_fp"),
        )
    )


@register(
    "dedup_prefix_filter_jaccard",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL})
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks
      GROUP BY doc_id
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term
    ),
    ranked AS (
      SELECT t.doc_id, t.term, s.sz,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.term) AS rn
      FROM toks t JOIN dfreq f ON f.term = t.term
                  JOIN sizes s ON s.doc_id = t.doc_id
    ),
    prefix AS (
      -- ceil(3*sz/5) spelled (3*sz+4)//5: DuckDB // floors exactly
      -- (a bare / returns DOUBLE and CAST would round, not floor).
      SELECT doc_id, term FROM ranked
      WHERE rn <= sz - ((4 * sz + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 5 * i.n_inter >= 4 * (sa.sz + sb.sz - i.n_inter)
    """,
    doc="PPJoin-style prefix-filtering set-similarity self-join at "
        "Jaccard >= 4/5 over whitespace-token sets — the hash-free "
        "complement to MinHash-LSH candidate generation with ZERO false "
        "negatives by construction (operators/dedup."
        "prefix_filter_jaccard_pairs; completeness vs brute force pinned "
        "in tests/test_stats2.py). Tokens ordered rarest-first so "
        "prefixes land on low-df tokens; candidates = prefix-token "
        "equi-join; membership decided by exact integer "
        "cross-multiplication, the float only labels the output. Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as dd

    d = load_table(spark, sf_dir, "documents")
    return dd.prefix_filter_jaccard_pairs(d, "doc_id", "text", 4, 5)


def _knn_join_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    planes = sim._hyperplanes(64, 8, 7)
    bcol = sim.lsh_bucket_sql("embedding", planes)
    cos = (
        f"{sim._dot_sql('d.embedding', 'q.qv')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('q.qv', 'q.qv')}))"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bcol} AS bkt FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, embedding AS qv, bkt AS qb
      FROM b WHERE vec_id < 16
    ),
    cand AS (
      SELECT q.qid, d.vec_id AS nid, {cos} AS cos
      FROM q JOIN b d ON bit_count(xor(d.bkt, q.qb)) <= 1
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid) AS rn
      FROM cand
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(rn AS INTEGER) AS rnk, round(cos, 9) AS cosine
    FROM ranked WHERE rn <= 10
    """


@register(
    "ann_knn_join_topk",
    _knn_join_oracle(),
    doc="k-NN JOIN: top-10 cosine neighbors for EVERY query row (16 "
        "probe rows here) — the batch form of ANN a dedup/retrieval "
        "pipeline actually runs, vs the single-broadcast-vector probes. "
        "The Hamming<=1 multi-probe is rewritten as an EQUI-join "
        "(operators/similarity.knn_join): each query explodes to its "
        "1+n_planes probe buckets and candidates meet on the bucket id "
        "— shuffle-partitionable, and at 100 TB the data side is "
        "written partitioned by bucket so probes prune partitions; a "
        "distance-predicate theta join would plan a cross product. One "
        "bucket-keyed join + one query-keyed window (cosine DESC, id "
        "tiebreak). Oracle states the identical candidate set as a "
        "Hamming filter",
)
def ann_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 16)
    out = sim.knn_join(e, q, k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("rnk"),
        "cosine",
    )


@register(
    "corpus_ngram_novelty",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - 2, 1) + 1),
                 i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks WHERE len(t) > 0
      ) raw
    ),
    firsts AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN firsts f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc="N-gram novelty: the fraction of a document's distinct word "
        "3-grams whose FIRST corpus occurrence (min doc_id) is this "
        "document — the incremental-crawl quality signal (a doc whose "
        "every shingle already exists earlier adds nothing; span-level "
        "dedup drops it, novelty SCORES it first). Shares "
        "word_shingles' exact semantics (short docs -> one shingle). "
        "Plan: one shingle-keyed shuffle for first-occurrence, one "
        "shingle-keyed join back, one doc-keyed aggregate — shingles "
        "stay in-row until the single explode, and at 100 TB the "
        "min-doc table is the same corpus-global state as the LSH "
        "band index, maintained incrementally the same way",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), k=3))
            ).alias("s"),
        )
        .distinct()
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def _minhash_audit_oracle() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    sig = _dd.minhash_signature_sql("documents", "doc_id", "text", 8, 8)
    matches = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
    WITH sig AS MATERIALIZED ({sig}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST({matches} AS BIGINT) AS n_agree,
             list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b, n_agree,
           round(CAST(n_agree AS DOUBLE) / 8.0, 6) AS jaccard_est,
           round(CAST(length(list_intersect(sa, sb)) AS DOUBLE)
                 / CAST(length(sa) + length(sb)
                        - length(list_intersect(sa, sb)) AS DOUBLE), 6)
             AS jaccard_exact
    FROM pairs
    """


@register(
    "minhash_accuracy_audit",
    _minhash_audit_oracle(),
    doc="MinHash self-audit: for candidate pairs (consecutive ids, the "
        "levenshtein-pairs convention), the signature-agreement "
        "estimate n_agree/8 SIDE BY SIDE with the exact char-8-shingle "
        "Jaccard it estimates — the calibration table that justifies "
        "the banding thresholds (E[agreement] = J; with 8 hashes the "
        "estimate is coarse, which is exactly what this surfaces and "
        "why verification follows candidate generation). Everything "
        "is md5/integer arithmetic except the two final IEEE "
        "divisions, so the audit itself is cross-engine hash-checked",
)
def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import char_shingles
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    sig = _dd.minhash_signature_df(d, "doc_id", "text", 8, 8)
    sh = d.select(
        "doc_id", F.array_distinct(char_shingles("text", k=8)).alias("sh")
    )
    left = sig.join(sh, "doc_id").select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sa"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)],
    )
    right = sig.join(sh, "doc_id").select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sb"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)],
    )
    pairs = left.join(right, F.col("doc_b") == F.col("doc_a") + 1)
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(8)
    ).cast("long")
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (
        F.size("sa").cast("double")
        + F.size("sb").cast("double")
        - inter
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        n_agree.alias("n_agree"),
        F.round(n_agree.cast("double") / F.lit(8.0), 6).alias("jaccard_est"),
        F.round(inter / union, 6).alias("jaccard_exact"),
    )


def _pca_power_oracle() -> str:
    scale = 1 << 20
    it = """
    dot{K} AS (
      SELECT ql.vec_id, SUM(ql.val * v{J}.v) AS dot
      FROM ql JOIN v{J} ON v{J}.dim = ql.dim GROUP BY ql.vec_id
    ),
    w{K} AS (
      SELECT ql.dim, SUM(ql.val * dot{K}.dot) AS w
      FROM ql JOIN dot{K} ON dot{K}.vec_id = ql.vec_id GROUP BY ql.dim
    ),
    m{K} AS (SELECT MAX(abs(w)) AS m FROM w{K}),
    v{K} AS (
      SELECT dim,
             (CASE WHEN w < 0 THEN -1 ELSE 1 END)
             * (abs(w) // greatest(m // {scale}, 1)) AS v
      FROM w{K}, m{K}
    )"""
    iters = ",".join(
        it.format(K=k, J=k - 1, scale=scale) for k in (1, 2, 3)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    ),
    ql AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, q8[CAST(i AS INTEGER)] AS val
      FROM q, unnest(generate_series(1, 64)) t(i)
    ),
    v0 AS (
      SELECT CAST(d AS BIGINT) AS dim, CAST({scale} AS BIGINT) AS v
      FROM unnest(generate_series(0, 63)) s(d)
    ),
    {iters}
    SELECT dim, CAST(v AS BIGINT) AS component FROM v3
    """


@register(
    "embedding_pca_power_fixedpoint",
    _pca_power_oracle(),
    doc="Top principal component of the embedding table by POWER "
        "ITERATION in fixed-point integer arithmetic: vectors quantize "
        "to int8, the direction lives in 2^20 micro-units, and each of "
        "3 iterations is v <- rescale(Sum_i x_i * (x_i . v)) — two "
        "integer aggregations (row-dot, then per-dim accumulate) with "
        "a max-abs integer renormalization (no sqrt, no float), so the "
        "ITERATIVE linear algebra itself carries a full cross-engine "
        "hash check — pagerank's determinism principle applied to PCA. "
        "Iteration count is a dial: each round multiplies the "
        "eigengap ratio into the error, so spiky spectra converge in "
        "a few rounds while near-isotropic corpora (like this "
        "synthetic table, gap ratio ~0.93) need many — the ENTRY "
        "pins the exact 3-step operator; tests/test_stats2.py proves "
        "it bit-equal to an integer simulation and that the Rayleigh "
        "quotient improves monotonically over the start vector. "
        "Plan: the (vec, dim) long table shuffles once per iteration "
        "per keyed aggregate, v is |dim| rows joined in — fully "
        "declarative, no driver collects; at 10^10 vectors each "
        "iteration is two node-keyed shuffles, same as k-means",
)
def embedding_pca_power_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.dedup import _persist_once

    scale = 1 << 20
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )
    ql = _persist_once(
        e.select("vec_id", F.posexplode(q8).alias("dim", "val")).select(
            "vec_id", F.col("dim").cast("long").alias("dim"), "val"
        )
    )
    spark_ = e.sparkSession
    v = spark_.range(64).select(
        F.col("id").alias("dim"), F.lit(scale).cast("long").alias("v")
    )
    for _ in range(3):
        dot = (
            ql.join(v, "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("val") * F.col("v")).alias("dot"))
        )
        w = (
            ql.join(dot, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("val") * F.col("dot")).alias("w"))
        )
        m = w.agg(F.max(F.abs("w")).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "dim",
            (
                F.when(F.col("w") < 0, -1).otherwise(1)
                * F.expr(f"abs(w) div greatest(m div {scale}, 1)")
            ).alias("v"),
        )
    return v.select("dim", F.col("v").cast("long").alias("component"))


def _rp_sign_sql(k: int, d: str) -> str:
    # Rademacher sign from the first hex digit of md5("rp:k:d"):
    # digits 0-7 -> +1, 8-f -> -1 — portable, seed-free, deterministic.
    return (
        f"CASE WHEN substring(md5('rp:{k}:' || CAST({d} AS VARCHAR)), 1, 1)"
        f" BETWEEN '0' AND '7' THEN 1 ELSE -1 END"
    )


def _rp_oracle() -> str:
    outs = ", ".join(
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> ({_rp_sign_sql(k, 'i - 1')}) * q8[CAST(i AS INTEGER)]))"
        f" AS BIGINT) AS p{k}"
        for k in range(16)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    )
    SELECT vec_id, {outs} FROM q
    """


@register(
    "embedding_random_projection_16",
    _rp_oracle(),
    doc="Johnson-Lindenstrauss reduction 64 -> 16 dims with a "
        "DETERMINISTIC Rademacher matrix (sign = first hex digit of "
        "md5('rp:k:d') — seed-free, engine-portable, the KMV hashing "
        "principle applied to a projection matrix): out_k = "
        "sum_d sign(k,d) * q8_d over int8-quantized inputs, so every "
        "projected coordinate is an exact integer and the whole "
        "reduction hash-checks cross-engine. The cheap pre-ANN step "
        "that cuts candidate-scan bytes 4x while JL bounds pairwise "
        "distance distortion (distortion measured in "
        "tests/test_stats2.py). Pure per-row expressions — zero "
        "shuffles, inlines into the scan at any scale",
)
def embedding_random_projection_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )
    base = e.select("vec_id", q8.alias("__q8"))

    # Signs are constants of (k, d) — bake them driver-side with the
    # SAME md5 rule the oracle states (16x64 literals fold into codegen;
    # computing md5 per row per cell would be 1024 hashes/row for
    # values that never change).
    def sign(k: int, d: int) -> int:
        h = hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[0]
        return 1 if h <= "7" else -1

    cols = [
        sum(
            F.lit(sign(k, d)) * F.element_at("__q8", d + 1)
            for d in range(64)
        ).cast("long").alias(f"p{k}")
        for k in range(16)
    ]
    return base.select("vec_id", *cols)


def _projected_topk_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    proj = ", ".join(
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> ({_rp_sign_sql(k, 'i - 1')}) * q8[CAST(i AS INTEGER)]))"
        f" AS BIGINT) AS p{k}"
        for k in range(16)
    )
    coarse = " + ".join(f"a.p{k} * q.p{k}" for k in range(16))
    cos = (
        f"{sim._dot_sql('d.embedding', 'qv.embedding')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('qv.embedding', 'qv.embedding')}))"
    )
    return f"""
    WITH q8t AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    ),
    p AS (SELECT vec_id, embedding, {proj} FROM q8t),
    q AS (SELECT * FROM p WHERE vec_id = 0),
    coarse AS (
      SELECT a.vec_id, CAST({coarse} AS BIGINT) AS score
      FROM p a, q
      ORDER BY score DESC, a.vec_id LIMIT 50
    )
    SELECT c.vec_id, round({cos}, 9) AS cosine
    FROM coarse c
    JOIN embeddings d ON d.vec_id = c.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qv
    ORDER BY cosine DESC, c.vec_id LIMIT 10
    """


@register(
    "ann_projected_rerank_topk",
    _projected_topk_oracle(),
    doc="Two-stage retrieval, the production ANN pattern: coarse top-50 "
        "by INTEGER dot product in the 16-dim JL projection (4x fewer "
        "bytes per row than the full vector, exact integer scores so "
        "the candidate ORDER is hash-stable), then exact full-space "
        "cosine rerank of just those 50 -> top-10. Complements the "
        "bucket-pruning families (LSH/IVF prune WHICH rows are "
        "scanned; projection prunes HOW MUCH each scanned row costs — "
        "PQ's idea without codebook training). Coarse stage is "
        "TakeOrderedAndProject over per-row expressions; rerank "
        "touches 50 rows",
)
def ann_projected_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from etl_tj_project_spark.functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )

    def sign(k: int, d: int) -> int:
        h = hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[0]
        return 1 if h <= "7" else -1

    pcols = [
        sum(
            F.lit(sign(k, d)) * F.element_at("__q8", d + 1)
            for d in range(64)
        ).cast("long").alias(f"p{k}")
        for k in range(16)
    ]
    p = e.select("vec_id", "embedding", q8.alias("__q8")).select(
        "vec_id", "embedding", *pcols
    )
    qrow = F.broadcast(
        p.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__qemb"),
            *[F.col(f"p{k}").alias(f"q{k}") for k in range(16)],
        )
    )
    coarse_score = sum(
        F.col(f"p{k}") * F.col(f"q{k}") for k in range(16)
    ).cast("long")
    coarse = (
        p.crossJoin(qrow)
        .select(
            "vec_id",
            "embedding",
            "__qemb",
            coarse_score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(50)
    )
    return (
        coarse.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("__qemb")), 9
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "text_bigram_coverage",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    END) AS bigram
      FROM t
    ),
    head AS (
      SELECT bigram FROM (
        SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 200
      ) h
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN head.bigram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_head,
           round(CAST(SUM(CASE WHEN head.bigram IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS head_coverage
    FROM b LEFT JOIN head ON head.bigram = b.bigram
    GROUP BY b.doc_id
    """,
    doc="Bigram head-coverage fluency proxy: the fraction of a doc's "
        "word bigrams that fall in the corpus's top-200 bigram head — "
        "one step up from unigram commonness (word-ORDER fluency: "
        "scrambled text keeps its unigram score but loses bigram "
        "coverage). The head is a TakeOrdered collapse with a "
        "deterministic tiebreak, broadcast back as a membership tag; "
        "one bigram shuffle + one doc shuffle, no libm",
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array()).otherwise(toks).alias("toks"),
    )
    bigrams = with_toks.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") < 2, F.array()).otherwise(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(toks[i - 1], ' ', toks[i]))"
                )
            )
        ).alias("bigram"),
    )
    head = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(200)
        .select("bigram", F.lit(1).alias("__head"))
    )
    tagged = bigrams.join(F.broadcast(head), "bigram", "left")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.coalesce("__head", F.lit(0))).cast("long").alias("n_in_head"),
        F.round(
            F.sum(F.coalesce("__head", F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("head_coverage"),
    )


def _filtered_topk_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    cos = (
        f"{sim._dot_sql('d.embedding', 'q.qv')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('q.qv', 'q.qv')}))"
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT d.label, d.vec_id, {cos} AS cosine
      FROM embeddings d, q
    ),
    ranked AS (
      SELECT label, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT label, vec_id, CAST(rn AS INTEGER) AS rnk,
           round(cosine, 9) AS cosine
    FROM ranked WHERE rn <= 5
    """


@register(
    "ann_filtered_topk_per_label",
    _filtered_topk_oracle(),
    doc="Filtered (faceted) vector search: top-5 cosine neighbors of "
        "the query WITHIN EVERY label partition — the metadata-filter+"
        "ANN combination vector stores are asked for ('nearest docs "
        "per source/language'). Expressed as score-then-window "
        "(partition by label, cosine DESC with id tiebreak) so ONE "
        "scan answers every filter value at once — running the "
        "single-facet query per label would rescan per facet. At "
        "100 TB label is the partition column, so the window runs "
        "partition-local with no cross-label shuffle",
)
def ann_filtered_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__qv")
        )
    )
    scored = e.crossJoin(q).select(
        "label",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("__qv")).alias("cosine"),
    )
    rn = F.row_number().over(
        Window.partitionBy("label").orderBy(F.col("cosine").desc(), "vec_id")
    )
    return (
        scored.withColumn("rnk", rn)
        .filter(F.col("rnk") <= 5)
        .select(
            "label",
            "vec_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("cosine", 9).alias("cosine"),
        )
    )


@register(
    "lang_label_confusion_matrix",
    r"""
    SELECT lang AS declared,
           CASE WHEN greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) = 0 THEN 'und' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'en' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'es' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'fr' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'de' ELSE 'und' END END END END END AS detected,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
    """,
    doc="Declared-vs-detected language confusion matrix: the provider's "
        "lang label cross-tabulated against the marker-token heuristic "
        "(functions/text.lang_id) — the mislabeled-language audit run "
        "before trusting per-language sampling budgets (an off-diagonal "
        "hot cell means a source ships mislabeled docs; 'und' columns "
        "measure where the heuristic abstains). One scan, one tiny "
        "(declared x detected) aggregate; detection is a pure Column "
        "expression so the matrix costs exactly one pass",
)
def lang_label_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import lang_id

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("declared"),
                 lang_id("text").alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "text_zipf_head_share",
    f"""
    WITH tok AS ({_TOKENS_SQL}),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rn,
             SUM(cnt) OVER () AS total
      FROM vocab
    )
    SELECT k,
           CAST(SUM(cnt) AS BIGINT) AS head_tokens,
           CAST(MIN(total) AS BIGINT) AS total_tokens,
           round(CAST(SUM(cnt) AS DOUBLE) / CAST(MIN(total) AS DOUBLE), 6)
             AS head_share
    FROM ranked
    CROSS JOIN (SELECT unnest([10, 100, 1000]) AS k) ks
    WHERE rn <= k
    GROUP BY k
    """,
    doc="Zipf head-share curve: the fraction of all corpus tokens "
        "covered by the top-10/100/1000 terms — the three-point "
        "summary of the frequency curve that sizes stopword lists, "
        "vocabulary truncation, and CMS sketch width (a corpus whose "
        "top-1000 covers 95% compresses very differently from one at "
        "60%). One vocabulary shuffle + one rank window; the three "
        "thresholds share a single scan via cross join + filter "
        "instead of three passes",
)
def text_zipf_head_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(d)
    vocab = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ranked = vocab.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "term"))
        .alias("rn"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    ks = d.sparkSession.createDataFrame(
        [(10,), (100,), (1000,)], "k int"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("head_tokens"),
            F.min("total").cast("long").alias("total_tokens"),
            F.round(
                F.sum("cnt").cast("double") / F.min("total").cast("double"),
                6,
            ).alias("head_share"),
        )
    )


# k-hop traversal bound: fixed depth makes the iterative-join unrolling
# finite and the DuckDB WITH RECURSIVE twin depth-bounded.
_KHOP_DEPTH = 3
_KHOP_SEEDS = 20
_KHOP_MOD = 997


@register(
    "khop_reachability",
    f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o_custkey AS src, o_orderkey % {_KHOP_MOD} + 1 AS dst
      FROM orders
    ),
    walk(seed, node, depth) AS (
      SELECT c_custkey, c_custkey, 0
      FROM customer WHERE c_custkey <= {_KHOP_SEEDS}
      UNION
      SELECT w.seed, e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < {_KHOP_DEPTH}
    )
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(COUNT(DISTINCT node) AS BIGINT) AS n_reachable,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM walk GROUP BY seed
    """,
    doc="Bounded k-hop reachability — the recursive-CTE shape of the "
        "implied ANSI surface (graph feature engineering: 'everything "
        "within 3 hops of these accounts'). Spark has no WITH "
        "RECURSIVE; the depth-bounded traversal unrolls into k "
        "frontier-join iterations (the BSP/Pregel superstep as plain "
        "DataFrame joins): frontier JOIN edges -> next frontier, "
        "distinct per hop so path multiplicity never amplifies rows, "
        "union into the reached set. Hash-checked against DuckDB's "
        "WITH RECURSIVE twin over the same deterministic edge relation "
        "(custkey -> orderkey mod {mod}+1 — synthetic fan, identical "
        "on both engines; dead-end sinks are legal BFS targets). "
        "Scale shape: each hop is one equi-join on the node id + one "
        "distinct — per-hop shuffles of FRONTIER-sized id pairs, never "
        "paths; the fixed depth bounds the plan (at production depth, "
        "checkpoint per hop to cut lineage — same regime as the "
        "pointer-doubling CC in operators/dedup.py, which covers the "
        "UNBOUNDED closure case)".format(mod=_KHOP_MOD),
)
def khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") % _KHOP_MOD + 1).cast("long").alias("dst"),
    ).distinct()
    seeds = c.filter(F.col("c_custkey") <= _KHOP_SEEDS).select(
        F.col("c_custkey").cast("long").alias("seed"),
        F.col("c_custkey").cast("long").alias("node"),
    )
    reached = seeds
    frontier = seeds
    for _ in range(_KHOP_DEPTH):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        reached = reached.union(nxt).distinct()
        frontier = nxt
    return reached.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


_NEG_K = 4          # negatives per anchor
_NEG_ANCHORS = 100  # bounded anchor set for the gate


@register(
    "contrastive_negative_sampling",
    f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
    anchors AS (
      SELECT vec_id AS anchor, label AS a_label
      FROM embeddings WHERE vec_id < {_NEG_ANCHORS}
    ),
    slots AS (
      SELECT anchor, a_label, CAST(i AS BIGINT) AS slot, n.n_vecs,
             CAST(('0x' || substr(md5(CAST(anchor AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % n.n_vecs AS raw
      FROM anchors, unnest([{", ".join(str(i) for i in range(_NEG_K))}]) AS t(i), n
    ),
    fixed AS (
      SELECT anchor, a_label, slot,
             CASE WHEN raw = anchor THEN (raw + 1) % n_vecs
                  ELSE raw END AS neg_id
      FROM slots
    )
    SELECT f.anchor, f.slot, f.neg_id,
           CAST(f.a_label AS BIGINT) AS a_label,
           CAST(e.label AS BIGINT) AS neg_label,
           (f.a_label = e.label) AS label_collision
    FROM fixed f JOIN embeddings e ON e.vec_id = f.neg_id
    """,
    doc="Deterministic negative sampling for contrastive/embedding "
        "training: k=4 negatives per anchor drawn by the portable md5 "
        "hash over (anchor, slot) mod corpus size — reproducible "
        "RNG-free sampling (the repo-wide salted-hash idiom, so resumed "
        "or re-run jobs draw the SAME negatives), with the "
        "anchor-collision remapped deterministically and each "
        "negative's label joined back to flag label collisions (the "
        "false-negative audit every contrastive pipeline wants on its "
        "sampler). Shape: anchors x k is a pure projection + 4-element "
        "explode; corpus size is a 1-row broadcast; the only real work "
        "is the id-equi-join fetching negative metadata — at 100 TB "
        "that join is shuffle-on-id or broadcast when the id->label "
        "map is dim-sized. Anchor bound keeps the gate output fixed; "
        "the operator itself is corpus-wide",
)
def contrastive_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    anchors = e.filter(F.col("vec_id") < _NEG_ANCHORS).select(
        F.col("vec_id").alias("anchor"), F.col("label").alias("a_label")
    )
    slots = (
        anchors.select(
            "anchor",
            "a_label",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(_NEG_K - 1).cast("long"))
            ).alias("slot"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "raw",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("anchor").cast("string"),
                            F.lit(":"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n_vecs"),
        )
    )
    fixed = slots.select(
        "anchor",
        "a_label",
        "slot",
        F.when(
            F.col("raw") == F.col("anchor"),
            (F.col("raw") + 1) % F.col("n_vecs"),
        )
        .otherwise(F.col("raw"))
        .alias("neg_id"),
    )
    negs = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return fixed.join(negs, "neg_id").select(
        "anchor",
        "slot",
        "neg_id",
        F.col("a_label").cast("long").alias("a_label"),
        F.col("neg_label").cast("long").alias("neg_label"),
        (F.col("a_label") == F.col("neg_label")).alias("label_collision"),
    )


# =========================================================================
# RAG-style overlapping token chunking
# =========================================================================

_CHUNK_W = 32   # tokens per chunk
_CHUNK_S = 24   # stride (overlap = W - S = 8 tokens)


@register(
    "chunk_documents_overlap",
    rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), {_CHUNK_S})) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT)               AS start_tok,
           CAST(len(toks[start_tok + 1 : start_tok + {_CHUNK_W}])
                AS BIGINT)                         AS n_tokens,
           md5(array_to_string(
               toks[start_tok + 1 : start_tok + {_CHUNK_W}], ' '))
                                                   AS chunk_md5
    FROM c
    """,
    doc=f"Retrieval-corpus chunking: fixed {_CHUNK_W}-token windows at "
        f"stride {_CHUNK_S} ({_CHUNK_W - _CHUNK_S}-token overlap so no "
        "sentence is split without context on either side), final "
        "short chunk kept. One projection + one posexplode — "
        "per-document work, embarrassingly parallel, no shuffle at "
        "all at any corpus size (the md5 chunk id is what a downstream "
        "embedding/dedup stage keys on). Case-PRESERVING tokenization "
        "(chunks feed an embedder; lowercasing is the embedder's "
        "choice, not the chunker's)",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.when(
        F.trim("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    staged = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S)
    )
    chunked = staged.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, _CHUNK_W)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# =========================================================================
# Matryoshka truncated-dimension recall
# =========================================================================

_MRL_QUERIES = 20   # vec_id < 20 are the query set
_MRL_PREFIX = 16    # truncated dimension count (full = 64)
_MRL_K = 10


@register(
    "embedding_matryoshka_prefix_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_MRL_QUERIES}
    ), p AS (
      SELECT q.qid, e.vec_id,
             {cosine_similarity_sql('e.embedding', 'q.qv')} AS cf,
             {cosine_similarity_sql(
                 f'e.embedding[1:{_MRL_PREFIX}]', f'q.qv[1:{_MRL_PREFIX}]'
             )} AS cp
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
    ), r AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cf DESC NULLS LAST, vec_id) AS rf,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cp DESC NULLS LAST, vec_id) AS rp
      FROM p
    )
    SELECT qid AS query_id,
           CAST(sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K}
                    THEN 1 ELSE 0 END) * 1000 // {_MRL_K} AS BIGINT)
             AS recall_milli
    FROM r GROUP BY qid
    """,
    doc=f"Matryoshka (MRL) truncation audit: for {_MRL_QUERIES} query "
        f"vectors, how much of the full-64-dim cosine top-{_MRL_K} "
        f"survives when ranking by the first {_MRL_PREFIX} dims only — "
        "the measurement that decides whether the ANN index can store "
        "1/4 the floats. One broadcast of the query set against a "
        "fully parallel scan, two row_number windows partitioned by "
        "query (each a bounded per-query sort), one aggregate; at "
        "100 TB the candidate scan is the only big input and it "
        "shuffles once on qid for the window. Cosine accumulation "
        "order identical on both engines (functions/vectors.py); "
        "unique vec_id tie-break, NULLS LAST pinned",
)
def embedding_matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import dot_product, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    # Norms hoisted to per-VECTOR projections (computed once per row on
    # each side) instead of per pair inside cosine_similarity — at
    # n_vectors x n_queries pairs that saves 2 of the 3 dot products
    # per ranking column. The arithmetic per pair is unchanged
    # (same doubles multiplied/divided in the same order), so the
    # inline-norm oracle SQL stays bit-identical.
    pre = F.slice("embedding", 1, _MRL_PREFIX)
    cand = e.select(
        "vec_id",
        "embedding",
        pre.alias("emb_p"),
        l2_norm("embedding").alias("nf"),
        l2_norm(pre).alias("np"),
    )
    q = F.broadcast(
        cand.filter(F.col("vec_id") < _MRL_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("emb_p").alias("qv_p"),
            F.col("nf").alias("qnf"),
            F.col("np").alias("qnp"),
        )
    )
    pairs = cand.crossJoin(q).filter(F.col("vec_id") != F.col("qid"))
    den_f = F.col("nf") * F.col("qnf")
    den_p = F.col("np") * F.col("qnp")
    scored = pairs.select(
        "qid",
        "vec_id",
        F.when(den_f > 0, dot_product("embedding", "qv") / den_f).alias("cf"),
        F.when(den_p > 0, dot_product("emb_p", "qv_p") / den_p).alias("cp"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("cf").desc_nulls_last(), "vec_id"
    )
    wp = Window.partitionBy("qid").orderBy(
        F.col("cp").desc_nulls_last(), "vec_id"
    )
    ranked = scored.select(
        "qid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    hit = F.when(
        (F.col("rf") <= _MRL_K) & (F.col("rp") <= _MRL_K), F.lit(1)
    ).otherwise(F.lit(0))
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        F.sum(hit).cast("long").alias("n_overlap"),
        F.expr(
            f"sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K} "
            f"THEN 1 ELSE 0 END) * 1000 div {_MRL_K}"
        )
        .cast("long")
        .alias("recall_milli"),
    )


# =========================================================================
# Tokenizer fertility under the fixed BPE merge table
# =========================================================================

def _bpe_seq_fold_sql(merges) -> str:
    """DuckDB greedy-fold expression for one word under a merge table
    (same representation as _bpe_encode_oracle)."""
    seq = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for a, b in merges:
        seq = f"replace({seq}, '|{a}||{b}|', '|{a}{b}|')"
    return seq


def _fertility_oracle() -> str:
    seq = _bpe_seq_fold_sql(BPE_FIXED_MERGES)
    return f"""
    WITH words AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), wl AS (
      SELECT lang, word, count(*) AS wfreq FROM words GROUP BY 1, 2
    ), vocab AS (SELECT DISTINCT word FROM words),
    enc AS (
      SELECT word,
             len(str_split(trim({seq}, '|'), '||')) AS n_pieces
      FROM vocab
    )
    SELECT lang,
           CAST(sum(wfreq) AS BIGINT)            AS n_words,
           CAST(sum(wfreq * n_pieces) AS BIGINT) AS n_pieces_total,
           CAST(sum(wfreq * n_pieces) * 1000 // sum(wfreq) AS BIGINT)
             AS fertility_milli
    FROM wl JOIN enc USING (word) GROUP BY lang
    """


@register(
    "bpe_fertility_by_lang",
    _fertility_oracle(),
    doc="Tokenizer FERTILITY audit (pieces per word) per language under "
        "the fixed BPE merge table — the measurement that decides "
        "whether a tokenizer underserves a language (high fertility = "
        "more pieces per word = fewer effective context tokens; the "
        "multilingual-tokenizer fairness number). Encoding runs once "
        "over the distinct-word VOCABULARY (operators/bpe."
        "encode_corpus_vocab — one exact-dedup shuffle, all merge "
        "folds in one expression tree), then joins back to per-(lang, "
        "word) counts; fertility is BIGINT-div milli. Integrates three "
        "families: tokenizer, corpus stats, language analysis",
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    wl = words.groupBy("lang", "word").agg(
        F.count(F.lit(1)).alias("wfreq")
    )
    enc = bpe_ops.encode_corpus_vocab(docs, BPE_FIXED_MERGES).select(
        "word", F.size("symbols").alias("n_pieces")
    )
    return (
        wl.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.sum("wfreq").cast("long").alias("n_words"),
            F.sum(F.col("wfreq") * F.col("n_pieces"))
            .cast("long")
            .alias("n_pieces_total"),
            F.expr("sum(wfreq * n_pieces) * 1000 div sum(wfreq)")
            .cast("long")
            .alias("fertility_milli"),
        )
    )


# =========================================================================
# Bigram continuation fluency
# =========================================================================

@register(
    "bigram_fluency_score",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS t
      FROM documents
    ), bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
    ), uni AS (
      SELECT w1 AS w, count(*) AS c1 FROM bi GROUP BY 1
    ), big AS (
      SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2
    ), scored AS (
      SELECT b.doc_id, big.c2 * 1000 // uni.c1 AS cont_milli
      FROM bi b JOIN big USING (w1, w2) JOIN uni ON uni.w = b.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cont_milli) // count(*) AS BIGINT)
             AS fluency_milli
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram continuation fluency — the KenLM-shaped quality signal "
        "without floating logs: for each adjacent word pair, the "
        "corpus-wide continuation probability P(w2|w1) = c(w1 w2)/c(w1) "
        "in exact milli-integers, averaged per document. Documents "
        "whose bigrams are corpus-typical score high; shuffled or "
        "machine-garbled text scores low (its bigrams are rare "
        "continuations of their heads). Two corpus-stat shuffles "
        "(unigram heads, bigrams) + one candidate join back; the "
        "integer mean (sum div count) keeps both engines bit-identical "
        "where a log-space perplexity would hinge on libm rounding. "
        "Docs with < 2 tokens have no bigrams and drop out, documented",
)
def bigram_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(
        F.trim("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    toks = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = bi.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(uni, bi["w1"] == uni["w"])
        .select("doc_id", F.expr("c2 * 1000 div c1").alias("cont_milli"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(cont_milli) div count(*)")
        .cast("long")
        .alias("fluency_milli"),
    )
