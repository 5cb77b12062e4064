"""Round-7 curation/quality operator batch.

Seven operators extending the LLM-data-pipeline surface:

- ``lm_kneser_ney_score`` — interpolated Kneser-Ney bigram LM document
  scoring (the smoothing that actually ships in n-gram LM filters, vs the
  add-one `lm_bigram_score`);
- ``agg_vocab_coverage`` — token-coverage curve of the top-k vocabulary
  (tokenizer sizing: "how big a vocab covers 95% of tokens?");
- ``curation_contamination_report`` — per-eval-document n-gram overlap
  RATE against the training split (the audit-report twin of
  `dedup_decontaminate`, which removes);
- ``curation_fasttext_quality`` — linear classifier over hashed bigram
  features (the fastText-style quality-filter stage; weights are a fixed
  deterministic function so the dataflow is hash-checkable);
- ``graph_clustering_coeff`` — per-node local clustering coefficient
  (the per-vertex refinement of `graph_triangle_count`);
- ``etl_scd3_prev`` — Type-3 slowly-changing dimension (current +
  previous value columns);
- ``agg_conversion_attribution`` — first-touch / last-touch conversion
  attribution over user event journeys.

Determinism: every count is an exact integer; every per-document float
reduction is an ordered fold (list_sum(list(x ORDER BY key)) ≡ Spark
0.0-init sequential aggregate — the curation_dsir convention); every
LIMIT is ordered by the UNROUNDED score with a doc_id tie-break on both
engines (the rank_rrf ADVICE lesson).

Reference analog: none direct — new-engine surface in the SURVEY §2.11
north-star class (the reference pipeline has no LM scoring, coverage,
attribution, or SCD surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdg_data_catalog_spark.catalog import table
from sdg_data_catalog_spark.queries.registry import register

_KN_D = 0.75  # Kneser-Ney absolute discount


def _tok_array(col: str = "text"):
    """Lowercased [a-z]+ tokens with empties removed — the corpus-wide
    tokenization convention (curation_dsir, lm_bigram_score). Uses the
    codegen-native regexp_extract_all form: value-identical to
    filter(split(lower, '[^a-z]+'), != '') and ~1.7x faster on explode
    paths (the interpreted filter lambda runs outside whole-stage
    codegen; measured at the 100x replica)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z]+"), 0)


_TOKS_SQL = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             t -> t <> '') AS t
  FROM documents
)
"""


@register(
    "lm_kneser_ney_score",
    oracle=f"""
    WITH {_TOKS_SQL},
    occ AS (
      SELECT doc_id, i AS pos, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    types AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM types GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS ncont FROM types GROUP BY w2),
    tot AS (SELECT COUNT(*) AS nt FROM types),
    scored AS (
      SELECT t.w1, t.w2,
             ln((GREATEST(CAST(t.c12 AS DOUBLE) - {_KN_D}, 0)
                 + {_KN_D} * ctx.n1p
                   * (CAST(cont.ncont AS DOUBLE) / CAST(tot.nt AS DOUBLE)))
                / CAST(ctx.c1 AS DOUBLE)) AS logp
      FROM types t JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    ),
    perdoc AS (
      SELECT o.doc_id,
             COUNT(*) AS n_bigrams,
             list_sum(list(s.logp ORDER BY o.pos)) AS sum_logp
      FROM occ o JOIN scored s ON s.w1 = o.w1 AND s.w2 = o.w2
      GROUP BY o.doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(sum_logp / n_bigrams, 6) AS avg_logp
    FROM perdoc
    ORDER BY sum_logp / n_bigrams DESC, doc_id ASC
    LIMIT 25
    """,
)
def lm_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney, ICASSP'95;
    Chen & Goodman '99 eq. 4.25): P(w2|w1) = (max(c(w1w2)−D, 0) +
    D·N1+(w1·)·Pcont(w2)) / c(w1), Pcont(w2) = N1+(·w2)/|types| — the
    continuation-probability backoff that makes KN the production n-gram
    smoother ("Francisco" is frequent but only ever follows "San"; KN
    scores it low in novel contexts where add-one cannot). Ranks each
    document by mean log-probability — the perplexity-filter curation
    stage with the LM trained on the corpus itself.

    Plan shape at 100 TB: bigram TYPE stats (types/ctx/cont) are
    combinable aggregates over the distinct-bigram table — the type table
    is persisted once (four consumers; the curation_dsir shared-subtree
    lesson) and is vocabulary-sized, never corpus-sized. Occurrences join
    the scored types on the bigram key (broadcast hash equi-join — the
    scored table is vocabulary-sized, the same bound as lm_bigram_score's
    c2; at vocabularies beyond broadcast reach drop the hint and AQE
    shuffle-joins), and the per-doc reduction is a position-ordered sum.

    r14 optimization (guide §4.1, measured): the per-doc ordered fold
    was collect_list(struct(pos, logp)) → array_sort → transform →
    aggregate — four interpreted higher-order expressions materializing a
    per-doc array only to add its elements in pos order. But the explode
    emits each document's bigrams in position order WITHIN one partition
    (a doc is one source row; explode never splits a row across
    partitions, and a broadcast join preserves stream order), so the
    codegen'd partial-aggregation F.sum accumulates the exact same
    addition sequence: same doubles, same order, bit-identical sum with
    zero array machinery. 100× replica full-run 10.89 → 7.18 s
    (min-of-4); oracle hash-identical at sf0.001/0.01/0.1.

    KNOWN EDGE (r15, VERDICT item 6): under memory pressure
    HashAggregateExec falls back to sort-based aggregation, which can
    split a doc's rows across spill buffers and re-associate the double
    additions — a last-ulp flip could reorder the top-25 rank.
    tests/test_r15_sum_order_fallback.py plants that fallback
    (spark.sql.TungstenAggregate.testFallbackStartsAt=8,8 — the hash
    map spills to a sorter every 8 input rows) and asserts byte-
    identical output; if Spark's fallback ever breaks the identity, that
    test trips and the fix is the pre-r14 position-ordered fold. 8 is
    derived, not tuned: sf0.001 docs carry 9–98 bigrams (median 55), so
    at 8 every doc's rows still cross a spill boundary. 1,1 cannot run:
    each row becomes its own spill file and the merge opens them all at
    once, two 1 MiB read buffers each — the one-row-group sf0.001
    corpus puts all 27,439 bigram rows in one task, tens of GB of
    readers, past any heap the session factory gives."""
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tok_array().alias("t")).filter(F.size("t") >= 2)
    n = F.size("t")
    bigs = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    occ = toks.select(
        "doc_id", F.explode(bigs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # r15 (guide §2.3/§4.2, measured): the bigram TYPE table comes from
    # the Arrow partial-count kernel (operators/lm_counts.py — the
    # lm_bigram_score model-build precedent) instead of an occurrence
    # explode + corpus-sized hash aggregate: the JVM only aggregates
    # per-batch vocabulary-sized integer partials. c12 stays an exact
    # int64 sum (associative — the batch split cannot change it); the
    # kernel's zip(toks, toks[1:]) pairs are exactly the zip_with slice
    # pairs the probe explode emits, so every downstream double is
    # bit-identical. The probe side (occ → broadcast join → stream-order
    # F.sum) is untouched.
    from sdg_data_catalog_spark.operators.lm_counts import token_count_partials

    types = (
        token_count_partials(toks, mode="bigrams")
        .filter(F.col("kind") == 2)
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctx = types.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = types.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    tot = types.agg(F.count(F.lit(1)).alias("nt"))
    p = (
        F.greatest(F.col("c12").cast("double") - _KN_D, F.lit(0.0))
        + F.lit(_KN_D) * F.col("n1p")
        * (F.col("ncont").cast("double") / F.col("nt").cast("double"))
    ) / F.col("c1").cast("double")
    scored = (
        types.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.log(p).alias("logp"))
    )
    perdoc = (
        occ.join(F.broadcast(scored), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # stream-order sum == pos-order fold (see docstring); 0.0-init
            # fold ≡ Sum's null-init + first element for every finite x
            F.sum("logp").alias("sum_logp"),
        )
    )
    avg = F.col("sum_logp") / F.col("n_bigrams")
    return (
        perdoc.orderBy(avg.desc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", "n_bigrams", F.round(avg, 6).alias("avg_logp"))
    )


@register(
    "agg_vocab_coverage",
    oracle=f"""
    WITH {_TOKS_SQL},
    w AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(t) AS word FROM toks) GROUP BY word
    ),
    r AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rnk
      FROM w
    ),
    agg AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS BIGINT) AS c100,
             CAST(SUM(CASE WHEN rnk <= 1000 THEN cnt ELSE 0 END) AS BIGINT) AS c1000,
             CAST(SUM(CASE WHEN rnk <= 10000 THEN cnt ELSE 0 END) AS BIGINT) AS c10000
      FROM r
    )
    SELECT top_k, covered, total,
           ROUND(CAST(covered AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
    FROM (
      SELECT CAST(100 AS BIGINT) AS top_k, c100 AS covered, total FROM agg
      UNION ALL
      SELECT 1000, c1000, total FROM agg
      UNION ALL
      SELECT 10000, c10000, total FROM agg
    )
    """,
)
def agg_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve of the frequency-ranked vocabulary: what
    fraction of all corpus tokens the top-100/1k/10k word types cover —
    the Zipf-law payoff curve every tokenizer/vocab-size decision reads
    (pairs with text_zipf_slope, which fits the exponent). The global
    rank over the vocabulary uses `operators/curation.py::running_total`
    — range-repartition + per-partition window + broadcast offsets — NOT
    a single-partition ORDER BY window: the vocabulary is far smaller
    than the corpus but still unbounded, so the rank must scale like a
    sort, not like one task (the curation_pareto_front lesson). Rank
    order (cnt DESC, word ASC) is encoded as one ascending key via a
    zero-padded complement prefix."""
    from sdg_data_catalog_spark.operators.curation import running_total

    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tok_array()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # %019d holds 10^18 - cnt only while cnt <= 10^18 (a larger count
    # would go negative and Java Formatter would WIDEN, silently breaking
    # lexicographic == numeric); overflow raises instead of corrupting
    key = F.when(
        F.col("cnt") <= F.lit(10**18),
        F.format_string("%019d:%s", F.lit(10**18) - F.col("cnt"), F.col("word")),
    ).otherwise(F.raise_error(F.lit("count > 1e18 overflows the %019d rank key")))
    ranked = running_total(
        vocab.withColumn("__key", key), "__key", F.lit(1), "rnk"
    )
    agg = ranked.agg(
        F.sum("cnt").alias("total"),
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("cnt")).otherwise(0)).alias(f"c{k}")
            for k in (100, 1000, 10000)
        ],
    )
    return agg.select(
        F.expr(
            "stack(3, 100L, c100, 1000L, c1000, 10000L, c10000)"
            " as (top_k, covered)"
        ),
        "total",
    ).select(
        "top_k",
        "covered",
        "total",
        F.round(
            F.col("covered").cast("double") / F.col("total").cast("double"), 6
        ).alias("coverage"),
    )


_EVAL_MOD = 41  # every 41st doc plays the held-out eval set
_SH_N = 5  # shingle width (words)


@register(
    "curation_contamination_report",
    oracle=f"""
    WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    esh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - {_SH_N - 2}),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                      || t[i+3] || ' ' || t[i+4])) AS sh
      FROM sp WHERE doc_id % {_EVAL_MOD} = 0 AND len(t) >= {_SH_N}
    ),
    tsh AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, len(t) - {_SH_N - 2}),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                      || t[i+3] || ' ' || t[i+4])) AS sh
      FROM sp WHERE doc_id % {_EVAL_MOD} <> 0 AND len(t) >= {_SH_N}
    ),
    hits AS (
      SELECT e.doc_id, COUNT(*) AS n_hits
      FROM esh e JOIN tsh USING (sh) GROUP BY e.doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM esh GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_contaminated,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 6)
             AS contamination_rate
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
)
def curation_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination AUDIT: for each held-out eval document
    (every 41st), the fraction of its distinct 5-word shingles that
    appear anywhere in the training split — the overlap-rate report
    GPT-3/PaLM-style dataset cards publish, complementing
    `dedup_decontaminate` (which REMOVES matching training docs; this
    measures how dirty the eval set is and by how much per document).
    Plan: both shingle sets are map-side explodes + distincts; the
    overlap is one hash semi-equi-join on the shingle string, so the
    work scales with shingle volume through one shuffle — the same shape
    at 100 TB with the eval side typically tiny. Counts are exact
    integers; the full per-eval-doc report is emitted unordered (no
    LIMIT, so no order contract needed).

    r14 rewrite A/B'd and REJECTED (guide §3.2): inverting the semi join
    — broadcast the eval shingle set at the training scan so only
    eval-bounded rows ever shuffle (removing the training-side DISTINCT
    exchange entirely) — measured SLOWER at the 100× replica: full run
    12.52 → 13.89 s min-of-4; component decomposition: bare training
    explode 6.50 s, + map-side-combined distinct 9.10 s, + broadcast
    semi-filter instead 13.27 s. The per-row broadcast string-hash probe
    costs more than the vectorized partial-aggregate dedup it replaces,
    and on one node the exchange it saves is memory-bandwidth, not
    network. On a real cluster the trade reverses with network-bound
    shuffle; the shape to revisit there is exactly the rejected one.

    r14 optimization KEPT (guide §2.3, measured): the shingle key is a
    struct(w0..w4) of the five tokens, not their concatenation — no
    per-shingle string build on the explode path, and the distinct/semi
    join compare the same five words fieldwise (space-joined concat is
    injective on space-split tokens, so key equality is unchanged and
    the oracle, which only sees counts, is untouched). 100× replica
    full-run 10.26 → 9.18 s min-of-3 same-window; oracle hash-identical
    at sf0.001/0.01/0.1."""
    docs = table(spark, sf_dir, "documents")
    sp = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _SH_N
    )
    n = F.size("t")
    sh = F.transform(
        F.sequence(F.lit(0), n - _SH_N),
        lambda i: F.struct(
            *[
                F.element_at(F.col("t"), i + j + 1).alias(f"w{j}")
                for j in range(_SH_N)
            ]
        ),
    )
    with_sh = sp.select("doc_id", F.explode(sh).alias("sh"))
    # eval-side shingles (every 41st doc — small); consumed by the hit
    # join AND the per-doc totals, so materialize once (audited 3
    # document scans, now 2: eval pass + training pass)
    esh = (
        with_sh.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .distinct()
        .localCheckpoint(eager=True)
    )
    tsh = (
        with_sh.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .select("sh")
        .distinct()
    )
    hits = (
        esh.join(tsh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    tot = esh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_shingles"), 6
        ).alias("contamination_rate"),
    )


_FT_B = 256  # hashed bigram feature buckets
_FT_BIAS = -0.25


def _ft_wint(bucket: int) -> int:
    """The fixed integer weight image wint = 98·w of a feature bucket —
    the exact arithmetic both engines' SQL computes (all non-negative
    integer ops, so Python % == SQL %)."""
    return (bucket * 2654435761) % 1000003 % 197 - 98


def _ft_doc_features(toks: DataFrame) -> DataFrame:
    """Per-document fastText features (doc_id, n_bigrams, swint) in ONE
    Arrow pass — no exploded occurrence stream, no per-occurrence md5,
    no per-doc groupBy Exchange (each doc's tokens live in one input
    row, so its row is COMPLETE). Per batch: tokens are integer-
    factorized (C-speed hash), adjacent within-doc pairs become int64
    keys c1·V + c2, np.unique reduces them to the batch's DISTINCT
    bigrams, and only those get the "w1 w2" string build + md5 + weight
    map (memoized for the task lifetime) — the retired expression form
    concat-built and md5'd every one of the ~100M occurrences. swint is
    an exact int64 sum of the same per-occurrence wint values
    (np.add.reduceat over doc segments — integer sums are associative,
    so batch/segment splits cannot change them); n_bigrams = len(t)−1
    exactly as the explode counted. Bit-identity is therefore
    arithmetic-free on the float side: the kernel emits only exact
    integers and the caller's sigmoid/round/rank expressions are
    untouched. Pinned against the explode+md5 expression form in
    tests/test_r15_fasttext_kernel.py."""
    import hashlib

    import numpy as np
    import pandas as pd

    wint_memo: dict = {}

    def feats(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = pdf["t"]
            lens = np.asarray(
                [0 if a is None else len(a) for a in arrs], dtype=np.int64
            )
            keep = lens >= 2
            if not keep.any():
                continue
            klens = lens[keep]
            flat = np.concatenate(
                [np.asarray(a, dtype=object) for a in arrs[keep]]
            )
            codes, uniques = pd.factorize(flat)
            v = len(uniques)
            # adjacent within-doc pair positions: every index except the
            # last of each doc
            mask = np.ones(len(flat), dtype=bool)
            mask[np.cumsum(klens) - 1] = False
            idx = np.nonzero(mask)[0]
            keys = codes[idx].astype(np.int64) * v + codes[idx + 1]
            ukeys, inv = np.unique(keys, return_inverse=True)
            uw = np.empty(len(ukeys), dtype=np.int64)
            for i, kk in enumerate(ukeys):
                # integer pair keys are batch-local (v varies); the memo
                # key is the pair STRING, stable for the task lifetime
                w1 = uniques[int(kk) // v]
                w2 = uniques[int(kk) % v]
                s = w1 + " " + w2
                wi = wint_memo.get(s)
                if wi is None:
                    b = int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % _FT_B
                    wi = _ft_wint(b)
                    wint_memo[s] = wi
                uw[i] = wi
            wvals = uw[inv]
            nb = klens - 1
            offsets = np.concatenate(([0], np.cumsum(nb)[:-1]))
            swint = np.add.reduceat(wvals, offsets)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "n_bigrams": nb,
                    "swint": swint.astype(np.int64),
                }
            )

    return toks.select("doc_id", "t").mapInPandas(
        feats, "doc_id long, n_bigrams long, swint long"
    )


@register(
    "curation_fasttext_quality",
    oracle=f"""
    WITH {_TOKS_SQL},
    big AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))
                  AS BIGINT) % {_FT_B} AS BIGINT) AS bucket
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    perdoc AS (
      -- the weights are integer-derived rationals wint/98, so the dot
      -- product folds as ONE exact integer sum — no ordered float fold,
      -- no (doc, bucket) intermediate, fully map-side combinable
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM((bucket * 2654435761) % 1000003 % 197 - 98) AS BIGINT)
               AS swint
      FROM big GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(1.0 / (1.0 + exp(-(CAST(swint AS DOUBLE) / 98.0 / n_bigrams
                                    + {_FT_BIAS}))), 6) AS quality_prob
    FROM perdoc
    ORDER BY CAST(swint AS DOUBLE) / 98.0 / n_bigrams DESC, doc_id ASC
    LIMIT 25
    """,
)
def curation_fasttext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier (Joulin et al. '16; the
    CCNet/LLaMA corpus-filter stage): a linear model over hashed bigram
    features — score = σ(w·x̄ + b) with x̄ the document's mean bucket
    indicator. The weights here are a fixed integer-derived function of
    the bucket id (the udf_bert_classify convention) rather than trained
    floats, which keeps the ENTIRE dataflow — hashing, feature
    aggregation, dot product, sigmoid, ranking — hash-checkable against
    SQL; swapping in trained weights is a broadcast literal change. Plan:
    explode → ONE combinable per-doc aggregate: the weights are rationals
    wint/98, so the dot product folds as an exact INTEGER sum
    (Σ wint)/98 — no ordered float fold, no (doc, bucket) intermediate
    (measured 24.8 → 10.9 s at the 100× tier; the rest is the md5 of 100M bigrams) — → TakeOrdered top-25 by
    the unrounded score. No vocabulary table at any corpus size
    ({_FT_B} fixed buckets).

    r14 rewrite A/B'd and REJECTED (guide §2.3): hashing once per bigram
    TYPE (struct keys on the occurrence stream, distinct-bigram table
    computes bucket/wint, broadcast-attach back — the lm_bigram_score
    shape) measured SLOWER at the 100× replica: 10.55 → 14.23 s
    min-of-3, same host window. The distinct is itself an
    occurrence-sized exchange and the per-occurrence broadcast hash
    probe costs more than the md5 it avoids (same direction as
    curation_contamination_report's rejected inversion: on one node the
    vectorized in-row hash beats a per-row hash-table probe).

    r15 (guide §2.3/§4.2, measured): the occurrence stream is gone
    entirely — `_ft_doc_features` computes (n_bigrams, swint) per doc in
    ONE Arrow pass with md5 running once per DISTINCT bigram per task
    (integer-factorized pair keys; see its docstring). Unlike the
    rejected r14 TYPE rewrite, there is no distinct exchange and no
    probe join: the dedup happens in numpy inside the batch and the
    kernel emits complete per-doc rows. The sigmoid/round/rank float
    expressions are untouched and consume the same exact integers."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tok_array().alias("t")).filter(F.size("t") >= 2)
    perdoc = _ft_doc_features(toks)
    z = F.col("swint").cast("double") / F.lit(98.0) / F.col("n_bigrams")
    return (
        perdoc.orderBy(z.desc(), F.col("doc_id").asc())
        .limit(25)
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-(z + F.lit(_FT_BIAS)))), 6
            ).alias("quality_prob"),
        )
    )


@register(
    "graph_clustering_coeff",
    oracle="""
    WITH pe AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_partkey % 4 = 0
    ),
    edges0 AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT u AS node FROM edges0
            UNION ALL SELECT v AS node FROM edges0)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM edges0 e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM oriented e1
      JOIN oriented e2 ON e2.s = e1.s AND e2.t <> e1.t
      JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    pernode AS (
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(p.n_tri, 0) / (deg.d * (deg.d - 1)), 6)
             AS clustering_coeff
    FROM deg LEFT JOIN pernode p ON p.node = deg.node
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient — 2·tri(v) / (d(v)·(d(v)−1))
    on the part co-purchase graph, the per-vertex refinement of
    `graph_triangle_count` (same degree-oriented wedge enumeration:
    every triangle is closed exactly once at its lowest-(degree, id)
    vertex, so total wedge work stays O(E^1.5) instead of Σdeg² — the
    "last reducer" fix). Each found triangle then credits all three of
    its vertices via one explode + combinable count; nodes with degree
    ≥2 and no triangles surface with coefficient 0 through the LEFT
    join. All hash equi-joins, nothing broadcast-sized by assumption."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    pe = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pe.alias("a"), pe.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        # edge list materializes ONCE: degree + orientation both consume
        # it, and the three wedge-join branches re-expanded the whole
        # lineitem self-join per alias (30+ scans in the formatted plan)
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=True)  # consumed by all three join aliases
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.s") == F.col("e1.s")) & (F.col("e2.t") != F.col("e1.t")),
        )
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.t")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("va"),
            F.col("e1.t").alias("vb"),
            F.col("e2.t").alias("vc"),
        )
    )
    pernode = (
        tri.select(F.explode(F.array("va", "vb", "vc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(pernode, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            F.round(
                F.lit(2.0) * F.coalesce("n_tri", F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@register(
    "etl_scd3_prev",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id % 5 = 2
    ),
    ordered AS (
      SELECT user_id, event_type, ts_us, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) AS prev_type
      FROM ev
    ),
    changes AS (
      SELECT user_id, event_type, ts_us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS current_status,
           MAX(CASE WHEN rn = 2 THEN event_type END) AS previous_status,
           CAST(MAX(CASE WHEN rn = 1 THEN ts_us END) AS BIGINT)
             AS changed_at_us,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM changes GROUP BY user_id
    """,
)
def etl_scd3_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-3 slowly-changing dimension: one row per key carrying the
    CURRENT and PREVIOUS attribute values plus the change timestamp —
    the "limited history as columns" alternative to SCD2's row-per-
    version (the warehouse answer when only the last transition
    matters). Same state-change compression as `etl_scd2_merge`
    (lag-filter with the event_id tie-break), then a reverse-rank keeps
    each user's last two versions and one conditional-aggregate pivot
    folds them to columns — two hash-partitioned windows on the key and
    one combinable groupBy, no joins. user_id % 5 = 2 bounds the driver
    comparison; n_versions preserves how much history the type-3 row
    discarded."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 2)
    base = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = base.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        changes.withColumn("rn", F.row_number().over(wr))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                "current_status"
            ),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias(
                "previous_status"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("ts_us"))).alias("changed_at_us"),
            F.count(F.lit(1)).alias("n_versions"),
        )
    )


@register(
    "agg_conversion_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    j AS (
      SELECT user_id, event_type,
             FIRST_VALUE(event_type) OVER w AS first_touch,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    conv AS (SELECT * FROM j WHERE event_type = 'purchase')
    SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS conversions
    FROM (
      SELECT 'first_touch' AS model, first_touch AS channel FROM conv
      UNION ALL
      SELECT 'last_touch', COALESCE(last_touch, '(none)') FROM conv
    )
    GROUP BY model, channel
    """,
)
def agg_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution over user event
    journeys: each purchase credits (a) the user's very first event type
    and (b) the most recent non-purchase event before it ('(none)' when
    the purchase opens the journey) — the two endpoint models every
    attribution report starts from. One hash-partitioned window pass per
    user (FIRST_VALUE + IGNORE-NULLS LAST_VALUE over the tie-broken
    order), then an explode to (model, channel) rows and a combinable
    count — no self-joins, no per-conversion subqueries, the plan
    shuffles on user_id once and on the tiny (model, channel) key once.
    Counting conversions (exact integers) rather than summing revenue
    doubles keeps the output aggregation-order-independent."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.select(
        "event_type",
        F.first("event_type").over(wf).alias("first_touch"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(wl).alias("last_touch"),
    )
    conv = j.filter(F.col("event_type") == "purchase")
    models = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("channel"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.coalesce("last_touch", F.lit("(none)")).alias("channel"),
                ),
            )
        ).alias("mc")
    )
    return models.groupBy(
        F.col("mc.model").alias("model"), F.col("mc.channel").alias("channel")
    ).agg(F.count(F.lit(1)).alias("conversions"))
