"""Round-10 operator batch 1: sequence packing, audio decode, substring
dedup, and character-entropy quality — four operators a training-data
pipeline runs between curation and batch assembly.

- ``plan_pack_sequences`` — concat-and-split sequence packing audit
  (the packing GPT-style pretraining actually uses: the token stream is
  concatenated in corpus order and split every CTX tokens): per source,
  how many documents a context boundary cuts in half. The cumulative
  token position is computed with the two-level block-cumsum pattern
  (per-block totals → tiny block-offset table → within-block window),
  NOT a global single-partition window — the shape that survives 100 TB.
- ``mm_wav_stats`` — REAL audio container path: RIFF/WAVE PCM16 bytes
  are built per document (operators/audiocodec.py, self-contained) and
  parsed back in Arrow batches; the output stats (n_samples, sum of
  squares, peak) are exact integers, so the DuckDB oracle reproduces
  them bit-for-bit from the closed-form sample formula without ever
  touching the bytes — the container build/parse is exactly what the
  oracle cross-checks.
- ``dedup_substring_spans`` — substring-level duplication audit (the
  motivation of Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better": duplicated SPANS matter, not just duplicated
  documents): per document, the fraction of its 8-word shingles that
  also appear in at least one other document. Candidate generation is a
  shingle equi-join (one shuffle keyed by shingle), never all-pairs.

Reference analog: none direct — SURVEY §2.11 north-star surface (the
reference pipeline has no packing/audio/span-dedup stage to port).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdg_data_catalog_spark.catalog import table
from sdg_data_catalog_spark.queries.registry import register

_CTX = 256  # packing context length, in whitespace tokens
_BLOCK = 64  # docs per cumsum block (two-level pattern)
_SHINGLE = 8  # words per shingle for substring dedup


@register(
    "plan_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS nt
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, nt,
               SUM(nt) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - nt AS start_tok,
               SUM(nt) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS end_tok
        FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN start_tok // {_CTX} <> (end_tok - 1) // {_CTX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
    FROM pos GROUP BY source ORDER BY source
    """,
)
def plan_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing audit. The global token position of every
    document is an ordered prefix sum — the textbook place to reach for a
    single-partition Window, which dies at scale. Instead: (1) per-block
    token totals (block = doc_id div 64 — doc_id is the ingest order);
    (2) running offsets over the BLOCK table (64× smaller) via the
    two-phase ``running_total`` (range shuffle + broadcast offsets — no
    single-partition window at any level); (3) within-block prefix sums
    partitioned by block. A document is 'split' when its [start, end) token interval
    crosses a CTX-multiple boundary — those documents lose coherence to
    truncation, and their per-source census is the packing-quality
    metric this plan reports."""
    from sdg_data_catalog_spark.operators.curation import running_total

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("nt"),
        (F.col("doc_id") - F.col("doc_id") % _BLOCK).alias("block"),
    )
    block_tot = toks.groupBy("block").agg(F.sum("nt").alias("bt"))
    # block table grows with the corpus (docs/64): its prefix sum goes
    # through the two-phase running_total, never a bare global window
    offsets = running_total(block_tot, "block", F.col("bt"), "cum_bt").select(
        "block", (F.col("cum_bt") - F.col("bt")).alias("block_off")
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pos = (
        toks.join(F.broadcast(offsets), "block")
        .withColumn("end_tok", F.col("block_off") + F.sum("nt").over(w_in))
        .withColumn("start_tok", F.col("end_tok") - F.col("nt"))
    )
    split_flag = (F.col("start_tok") - F.col("start_tok") % _CTX) != (
        (F.col("end_tok") - 1) - (F.col("end_tok") - 1) % _CTX
    )
    return (
        pos.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum(split_flag.cast("bigint")).alias("n_split_docs"),
        )
        .orderBy("source")
    )


@register(
    "mm_wav_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(COUNT(*) AS INTEGER) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS INTEGER) AS peak_abs
    FROM (
      SELECT doc_id,
             (doc_id * 7
              + unnest(generate_series(0, 64 + doc_id % 64 - 1)) * 13)
             % 251 - 125 AS s
      FROM documents
    )
    GROUP BY doc_id ORDER BY media_id
    """,
)
def mm_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio container path: real RIFF/WAVE PCM16 bytes are
    built per document inside Arrow batches (operators/audiocodec.py —
    canonical 44-byte header, chunk-walked parse, no external library),
    then parsed BACK and reduced to exact integer PCM stats. The oracle
    never sees the bytes: it recomputes n_samples/sum_sq/peak from the
    closed-form sample formula (operators/multimodal.synthetic_samples),
    so any defect in the container build, the chunk walk, the int16
    round-trip, or the Arrow batch plumbing flips the hash. The audio
    rung of the multimodal ladder next to mm_resize/mm_phash_candidates;
    only ~5 ints per media item leave the workers."""
    from sdg_data_catalog_spark.operators import multimodal as MM

    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = MM.as_wav_media(docs)
    return MM.wav_stats(media).orderBy("media_id")


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                   i -> array_to_string(
                       string_split(text, ' ')[i:i + {_SHINGLE - 1}], ' ')
               )) AS shingle
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE}
    ),
    card AS (
        SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs
        FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN card.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles
    FROM sh JOIN card USING (shingle)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication census (Lee et al. 2022 motivation): a
    document whose 8-word shingles mostly appear in OTHER documents is a
    near-copy even when no full-document hash matches. Shape: explode
    shingles (in-row transform over the word array — no join builds
    them), one shuffle keyed by shingle to count distinct containing
    docs, one shuffle back to the doc grain. Both aggregations are
    partial-agg friendly; candidate work is proportional to corpus
    tokens, never quadratic. At 100 TB the shingle key would be a 64-bit
    hash instead of the string (same plan, 8× narrower shuffle).

    r15 (guide §2.2/§2.3, measured — three rewrites, one A/B'd pair of
    plans, all value-identical):
    - the shingle key is a struct of the 8 tokens, not their
      concatenation (the curation_contamination_report precedent) — no
      per-shingle string build on the explode path; space-joined concat
      is injective on space-split tokens, so key equality — the ONLY
      thing the key is used for (it never reaches the output) — is
      unchanged. 49.6 → 25.6 s at the 100× replica on its own.
    - "appears in >1 document" is computed as MIN(doc_id) ≠ MAX(doc_id)
      instead of COUNT(DISTINCT doc_id) > 1 — the same predicate exactly,
      but min/max partial-aggregate to one row per (shingle, partition)
      where count-distinct expands to a (shingle, doc_id)-grain exchange
      (occurrence-sized for mostly-unique shingles).
    - both per-doc counts come from ONE doc-grain aggregate over
      shingles LEFT JOIN dup(shingle, hit), where dup holds only the
      DUPLICATED shingles: n_shingles is count(1) over every occurrence
      and n_dup_shingles is count(hit), which counts only the matched
      rows. Every doc with ≥ 8 words has ≥ 1 shingle, so no doc is lost
      and no COALESCE is needed. Taking n_shingles as size(t) − 7 in a
      separate branch instead re-expands the token relation: 3
      documents scans where this shape plans 2."""
    docs = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    t = F.col("t")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(t) - _SHINGLE),
        lambda i: F.struct(
            *[
                F.element_at(t, i + j + 1).alias(f"w{j}")
                for j in range(_SHINGLE)
            ]
        ),
    )
    shingles = (
        docs.filter(F.size(w) >= _SHINGLE)
        .select("doc_id", w.alias("t"))
        .select("doc_id", F.explode(sh).alias("shingle"))
    )
    dup = (
        shingles.groupBy("shingle")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("multi"))
        .filter(F.col("multi"))
        .select("shingle", F.lit(1).alias("hit"))
    )
    return (
        shingles.join(dup, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_dup_shingles"),
        )
        .orderBy("doc_id")
    )
