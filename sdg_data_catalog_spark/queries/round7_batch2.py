"""Round-7 batch 2: selection bands, lead-lag correlation, point-in-time
dimension joins, and the gridded geo join.

- ``curation_ppl_band_select`` — keep documents in the middle band of
  the LM-score distribution ("not memorized boilerplate, not gibberish"
  — the perplexity-band recipe several corpus pipelines use);
- ``ts_xcorr_lagged`` — lagged Pearson cross-correlation between two
  event series (does click volume LEAD purchase volume?);
- ``join_scd2_pit`` — point-in-time join of facts to the SCD2 dimension
  version valid at fact time, computed as ONE ordered window pass per
  key (the union-carry-forward as-of technique), never a range join;
- ``join_geo_gridded`` — radius join via grid-cell bucketing + neighbor
  probes (the equi-join scale path when the dim side outgrows
  broadcast; complements `join_geo_radius`'s broadcast theta form).

Determinism: integer counts everywhere; LM terms use ordered folds; the
band threshold ranks carry unique tie-breaks.

Reference analog: none direct — SURVEY §2.11 north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdg_data_catalog_spark.catalog import table
from sdg_data_catalog_spark.queries.registry import register

_BAND_LO = 0.25
_BAND_HI = 0.75
_ADD_K = 0.5  # add-k smoothing (the lm_bigram_score convention)


@register(
    "curation_ppl_band_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id, source, i AS pos, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM big),
    scored AS (
      SELECT b.w1, b.w2,
             ln((CAST(b.c12 AS DOUBLE) + {_ADD_K})
                / (CAST(ctx.c1 AS DOUBLE) + {_ADD_K} * vocab.v)) AS logp
      FROM big b JOIN ctx USING (w1) CROSS JOIN vocab
    ),
    perdoc AS (
      SELECT o.doc_id, ANY_VALUE(o.source) AS source,
             COUNT(*) AS n_bigrams,
             list_sum(list(s.logp ORDER BY o.pos)) / COUNT(*) AS avg_logp
      FROM occ o JOIN scored s ON s.w1 = o.w1 AND s.w2 = o.w2
      GROUP BY o.doc_id
    ),
    ranked AS (
      -- rank on the FLOORED nano-fixed-point image of the score: the band
      -- membership contract is pinned at 1e-9 resolution on both engines
      -- (a raw double ORDER BY could disagree with the Spark side's
      -- integer rank key in the last ulp)
      SELECT *,
             ROW_NUMBER() OVER (
               ORDER BY FLOOR(avg_logp * 1e9) ASC, doc_id ASC) AS rnk,
             COUNT(*) OVER () AS n_docs
      FROM perdoc
    ),
    band AS (
      SELECT * FROM ranked
      WHERE rnk > FLOOR({_BAND_LO} * n_docs)
        AND rnk <= FLOOR({_BAND_HI} * n_docs)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           -- micro-unit INTEGER sum: summing rounded doubles would be
           -- aggregation-order-dependent in the last ulp
           CAST(SUM(CAST(FLOOR(avg_logp * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
             AS sum_avg_logp
    FROM band GROUP BY source
    """,
)
def curation_ppl_band_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-band selection: score every document with the add-k
    bigram LM (the lm_bigram_score convention) and keep only the MIDDLE
    of the score distribution — the 25th-75th percentile band. The tails
    are both suspect: the best-scoring documents are repetitive
    boilerplate the LM has memorized, the worst are gibberish/OCR noise
    — the band recipe (used alongside fastText filters in CCNet-style
    pipelines) keeps the natural middle. The global rank that defines
    the band runs through `operators/curation.py::running_total`
    (range-repartition + broadcast offsets), so the percentile cut
    scales like a sort, not like one window task; the report is the
    per-source census of the selected band (rounded per-doc scores are
    summed so the report column is insensitive to sum order).

    KNOWN EDGE (r15, VERDICT item 6 / ADVICE r14): the per-doc
    F.sum("logp") relies on hash-aggregate stream order matching the
    oracle's pos-ordered fold; a sort-based fallback under memory
    pressure can re-associate the additions, and avg_logp feeds the
    floor(·1e9) band-membership key. The fallback is planted at
    testFallbackStartsAt=8,8 and the output pinned byte-identical in
    tests/test_r15_sum_order_fallback.py: sf0.001 docs carry 9–98
    bigrams, so at 8 every doc's sum merges partial buffers, while 1,1
    (one spill file per row, all opened at once by the merge, two
    1 MiB read buffers each) exhausts any heap the session factory
    gives (see lm_kneser_ney_score's docstring for the mechanism); the
    report column itself is already order-free (micro-unit integer
    sum)."""
    from sdg_data_catalog_spark.operators.curation import running_total

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("t"),
    ).filter(F.size("t") >= 2)
    n = F.size("t")
    bigs = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # r14 (guide §4.1, the lm_kneser_ney_score precedent): pos dropped —
    # the per-doc ordered fold below is replaced by codegen'd F.sum, which
    # accumulates the same doubles in the same order (explode emits
    # bigrams in position order within a partition, the BROADCAST model
    # join preserves stream order, and a doc's rows never split across
    # partitions, so the partial agg IS the position-ordered fold).
    occ = toks.select(
        "doc_id", "source", F.explode(bigs).alias("bg")
    ).select(
        "doc_id", "source",
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"),
    )
    from pyspark import StorageLevel

    big = (
        occ.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = big.agg(F.countDistinct("w2").alias("v"))
    scored = (
        big.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c12").cast("double") + _ADD_K)
                / (F.col("c1").cast("double") + F.lit(_ADD_K) * F.col("v"))
            ).alias("logp"),
        )
    )
    # the model table is vocabulary-sized — broadcast it so the
    # occurrence stream neither shuffles nor sorts before the doc rollup
    # (an SMJ's sort is what forced the former collect_list→array_sort
    # fold; under the broadcast join F.sum sees position order directly)
    perdoc = (
        occ.join(F.broadcast(scored), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("logp") / F.count(F.lit(1))).alias("avg_logp"),
        )
    )
    # global (floor(score·1e9) ASC, doc_id ASC) rank via the two-phase
    # offset form; the composite order is encoded as one ascending string
    # key (scores are negative and bounded, so the 1e17 shift keeps the
    # zero-padded image positive and order-preserving). Both engines rank
    # the same floored fixed-point value — pinning band membership at 1e-9
    # resolution instead of racing doubles in the last ulp.
    key = F.format_string(
        "%018d:%012d",
        F.lit(10**17) + F.floor(F.col("avg_logp") * 1e9).cast("long"),
        F.col("doc_id"),
    )
    ranked = running_total(
        perdoc.withColumn("__key", key), "__key", F.lit(1), "rnk"
    )
    n_docs = ranked.count()  # one scalar off the checkpointed rank table
    lo, hi = int(_BAND_LO * n_docs), int(_BAND_HI * n_docs)
    band = ranked.filter((F.col("rnk") > lo) & (F.col("rnk") <= hi))
    return band.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        (
            F.sum(F.floor(F.col("avg_logp") * 1e6).cast("long")).cast("double")
            / F.lit(1e6)
        ).alias("sum_avg_logp"),
    )


_DAY_US = 86_400_000_000
_XCORR_A = "click"
_XCORR_B = "purchase"
_MAX_LAG = 3


@register(
    "ts_xcorr_lagged",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day, COUNT(*) AS y
      FROM events WHERE event_type IN ('{_XCORR_A}', '{_XCORR_B}')
      GROUP BY event_type, day
    ),
    a AS (SELECT day, y FROM daily WHERE event_type = '{_XCORR_A}'),
    b AS (SELECT day, y FROM daily WHERE event_type = '{_XCORR_B}'),
    lags AS (SELECT unnest(range(-{_MAX_LAG}, {_MAX_LAG} + 1)) AS lag),
    paired AS (
      SELECT l.lag, a.y AS ya, b.y AS yb
      FROM lags l
      JOIN a ON TRUE
      JOIN b ON b.day = a.day + l.lag
    ),
    s AS (
      SELECT lag, COUNT(*) AS n,
             SUM(ya) AS sa, SUM(yb) AS sb,
             SUM(ya * yb) AS sab, SUM(ya * ya) AS saa, SUM(yb * yb) AS sbb
      FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                 / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                    * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS r
    FROM s
    """,
)
def ts_xcorr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the click and purchase daily
    series: Pearson r of (click[day], purchase[day + lag]) for lags
    −3..+3 — the lead-lag detector ("does click volume predict purchases
    two days out?") that generalizes `ts_autocorr_lag1` to two series.
    The lag fan-out is a 7-row broadcast against the tiny daily table,
    the shifted alignment is one equi-join on day+lag, and every moment
    (n, Σa, Σb, Σab, Σa², Σb²) is an exact integer sum — r is a single
    double expression over exact integers, deterministic across engines
    and partitionings. At 100 TB the daily series stays
    days×types-sized regardless of event volume; the only corpus-scale
    work is the one combinable count."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_XCORR_A, _XCORR_B)
    )
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(_DAY_US))
    daily = ev.groupBy("event_type", day.cast("long").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    a = daily.filter(F.col("event_type") == _XCORR_A).select(
        F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.filter(F.col("event_type") == _XCORR_B).select(
        F.col("day").alias("db"), F.col("y").alias("yb")
    )
    lags = spark.range(-_MAX_LAG, _MAX_LAG + 1).select(F.col("id").alias("lag"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ya").alias("sa"),
        F.sum("yb").alias("sb"),
        F.sum(F.col("ya") * F.col("yb")).alias("sab"),
        F.sum(F.col("ya") * F.col("ya")).alias("saa"),
        F.sum(F.col("yb") * F.col("yb")).alias("sbb"),
    )
    r = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double") / (
        F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
        * F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double"))
    )
    return s.select(
        "lag", F.col("n").alias("n_days"), F.round(r, 6).alias("r")
    )


_SCD2_CUTOFF = "2024-01-24 00:00:00"  # the etl_scd2_merge dimension cutoff


@register(
    "join_scd2_pit",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id % 3 = 0
    ),
    hist AS (
      SELECT * FROM ev
      WHERE ts_us < epoch_us(TIMESTAMP '{_SCD2_CUTOFF}')
    ),
    ordered AS (
      SELECT user_id, event_type, ts_us,
             LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) AS prev_type
      FROM hist
    ),
    changes AS (
      SELECT user_id, event_type AS status, ts_us
      FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    facts AS (
      SELECT user_id, event_type, ts_us, event_id FROM ev
      WHERE ts_us >= epoch_us(TIMESTAMP '{_SCD2_CUTOFF}')
    ),
    merged AS (
      SELECT user_id, ts_us, 0 AS is_fact, status, NULL AS event_type,
             0 AS event_id
      FROM changes
      UNION ALL
      SELECT user_id, ts_us, 1, NULL, event_type, event_id FROM facts
    ),
    carried AS (
      SELECT user_id, ts_us, is_fact, event_type,
             LAST_VALUE(status IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts_us, is_fact, event_id
               ROWS UNBOUNDED PRECEDING) AS status_at_event
      FROM merged
    )
    SELECT COALESCE(status_at_event, '(no-history)') AS status_at_event,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM carried WHERE is_fact = 1
    GROUP BY status_at_event, event_type
    """,
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts against the SCD2 dimension — "which
    dimension VERSION was current when each fact happened" (the
    correctness requirement behind every as-of report and leakage-free
    feature join; pairs with `etl_scd2_merge`, which maintains the
    dimension this query consumes: pre-cutoff history builds the
    versions, post-cutoff events are the facts). A BETWEEN
    valid_from/valid_to range join is the naive shape (broadcast nested
    loop at scale); the scalable form used here is the UNION-CARRY
    technique: version-change rows and fact rows interleave in one
    per-key ordered window and an IGNORE-NULLS LAST_VALUE carries the
    current version onto every fact — one hash-partitioned window pass,
    no range join, no dimension replication. Change rows sort before
    same-microsecond facts (is_fact tie key) — the "version effective AT
    its timestamp" convention; event_id breaks fact-fact ties."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 3 == 0)
    base = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    cutoff = F.unix_micros(F.lit(_SCD2_CUTOFF).cast("timestamp"))
    hist = base.filter(F.col("ts_us") < cutoff)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        hist.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            "ts_us",
            F.lit(0).alias("is_fact"),
            F.col("event_type").alias("status"),
            F.lit(None).cast("string").alias("fact_type"),
            F.lit(0).cast("long").alias("event_id"),
        )
    )
    facts = base.filter(F.col("ts_us") >= cutoff).select(
        "user_id",
        "ts_us",
        F.lit(1).alias("is_fact"),
        F.lit(None).cast("string").alias("status"),
        F.col("event_type").alias("fact_type"),
        "event_id",
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_fact", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = changes.unionByName(facts).withColumn(
        "status_at_event", F.last("status", ignorenulls=True).over(wc)
    )
    return (
        carried.filter(F.col("is_fact") == 1)
        .groupBy(
            F.coalesce("status_at_event", F.lit("(no-history)")).alias(
                "status_at_event"
            ),
            F.col("fact_type").alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_GRID_DEG = 5  # grid cell size (degrees)
_RADIUS_KM = 500.0


@register(
    "join_geo_gridded",
    oracle=f"""
    WITH cities AS (
        SELECT n_nationkey,
               CAST((n_nationkey * 37) % 120 AS DOUBLE) - 60 + 0.5 AS clat,
               CAST((n_nationkey * 73) % 360 AS DOUBLE) - 180 + 0.5 AS clon
        FROM nation
    ),
    pts AS (
        SELECT c_custkey,
               CAST((c_custkey * 13) % 120 AS DOUBLE) - 60 + 0.25 AS plat,
               CAST((c_custkey * 29) % 360 AS DOUBLE) - 180 + 0.25 AS plon
        FROM customer
    ),
    pcell AS (
      -- longitude cells live on a modular 72-cell ring (360°/5°), so the
      -- grid is wrap-correct at the ±180° antimeridian — haversine wraps
      -- naturally (sin² is symmetric), and the binning must match it
      SELECT c_custkey, plat, plon,
             CAST(FLOOR(plat / {_GRID_DEG}) AS BIGINT) AS gy,
             (CAST(FLOOR(plon / {_GRID_DEG}) AS BIGINT) + 36) % 72 AS gx
      FROM pts
    ),
    probes AS (
      -- dy ±1 (5° latitude = 556 km > radius) but dx ±2: a 5° LONGITUDE
      -- cell shrinks to ~280 km at the scheme's top latitude (~59.8°,
      -- cos ≈ 0.50), so a 500 km match can sit two lon cells away
      SELECT n_nationkey, clat, clon,
             CAST(FLOOR(clat / {_GRID_DEG}) AS BIGINT) + dy AS gy,
             (CAST(FLOOR(clon / {_GRID_DEG}) AS BIGINT) + dx + 108) % 72 AS gx
      FROM cities,
           UNNEST(range(-1, 2)) AS a(dy),
           UNNEST(range(-2, 3)) AS b(dx)
    ),
    cand AS (
      -- LEFT join: a center whose 15 probe cells are all empty still
      -- surfaces with zero counts (its km is NULL and counts ignore it)
      SELECT p.n_nationkey, c.c_custkey,
             2.0 * 6371.0 * asin(sqrt(
                 pow(sin(radians(c.plat - p.clat) / 2.0), 2)
                 + cos(radians(p.clat)) * cos(radians(c.plat))
                   * pow(sin(radians(c.plon - p.clon) / 2.0), 2))) AS km
      FROM probes p LEFT JOIN pcell c ON c.gy = p.gy AND c.gx = p.gx
    )
    SELECT n_nationkey,
           CAST(COUNT(CASE WHEN km <= {_RADIUS_KM} THEN 1 END) AS BIGINT)
             AS n_within,
           CAST(COUNT(c_custkey) AS BIGINT) AS n_candidates
    FROM cand GROUP BY n_nationkey
    """,
)
def join_geo_gridded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join via GRID BUCKETING — the equi-join scale path for geo
    joins when the dim side outgrows broadcast (`join_geo_radius` is the
    broadcast-theta form for tiny dims; this is what replaces it at 100
    TB): points map to one 5°×5° cell, each center probes a 3×5 cell
    neighborhood (±1 lat cell: 5° latitude = 556 km > the 500 km radius;
    ±2 lon cells: a longitude cell is only ~280 km wide at the scheme's
    top latitude, so a match can sit two cells over — the completeness
    bound is ceil(radius / min cell width), latitude-dependent), and the
    candidate join is a hash equi-join on (gy, gx) followed by the exact
    haversine filter — the same binning discipline as
    `join_interval_overlap`, in two dimensions. n_candidates is reported
    beside n_within: the ratio IS the pruning factor the grid buys over
    the all-pairs theta join. Longitude cells live on a modular 72-cell
    ring, so probes wrap correctly across the ±180° antimeridian —
    haversine wraps naturally (sin² is symmetric) and the binning must
    match it; the grid-vs-brute-force equality test is what caught the
    unwrapped version missing a cross-meridian match."""
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    cities = nation.select(
        "n_nationkey",
        (((F.col("n_nationkey") * 37) % 120).cast("double") - 60 + 0.5).alias("clat"),
        (((F.col("n_nationkey") * 73) % 360).cast("double") - 180 + 0.5).alias("clon"),
    )
    pts = cust.select(
        "c_custkey",
        (((F.col("c_custkey") * 13) % 120).cast("double") - 60 + 0.25).alias("plat"),
        (((F.col("c_custkey") * 29) % 360).cast("double") - 180 + 0.25).alias("plon"),
    )
    # longitude cells on the modular 72-cell ring — wrap-correct at ±180°
    pcell = pts.select(
        "c_custkey",
        "plat",
        "plon",
        F.floor(F.col("plat") / _GRID_DEG).cast("long").alias("gy"),
        ((F.floor(F.col("plon") / _GRID_DEG).cast("long") + 36) % 72).alias("gx"),
    )
    # dy ±1, dx ±2 — longitude cells shrink with cos(lat); see oracle note
    offsets = spark.range(-1, 2).select(F.col("id").alias("dy")).crossJoin(
        spark.range(-2, 3).select(F.col("id").alias("dx"))
    )
    probes = cities.crossJoin(F.broadcast(offsets)).select(
        "n_nationkey",
        "clat",
        "clon",
        (F.floor(F.col("clat") / _GRID_DEG).cast("long") + F.col("dy")).alias("gy"),
        (
            (F.floor(F.col("clon") / _GRID_DEG).cast("long") + F.col("dx") + 108)
            % 72
        ).alias("gx"),
    )
    km = (
        F.lit(2.0)
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("plat") - F.col("clat")) / 2.0), 2)
                + F.cos(F.radians("clat"))
                * F.cos(F.radians("plat"))
                * F.pow(F.sin(F.radians(F.col("plon") - F.col("clon")) / 2.0), 2)
            )
        )
    )
    cand = probes.join(pcell, ["gy", "gx"], "left").withColumn("km", km)
    return cand.groupBy("n_nationkey").agg(
        F.count(F.when(F.col("km") <= _RADIUS_KM, 1)).alias("n_within"),
        F.count("c_custkey").alias("n_candidates"),
    )
