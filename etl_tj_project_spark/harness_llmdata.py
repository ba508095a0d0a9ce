"""LLM-training-data analytics pack 2: TF-IDF term scoring, n-gram
statistics, edit-distance near-dup verification, calendar gap-fill,
histograms, cohort retention, and sliding windows.

Cross-engine notes (see parity.py and the round-1 lessons):
* no libm functions in outputs — TF-IDF uses the *linear* idf variant
  ``tf * N / df`` (IEEE division of exactly-representable integers is
  correctly rounded, so both engines emit bit-identical doubles; ``ln``
  differs in the last ulp between libms);
* double sums go through DECIMAL internally (exact, order-independent)
  and are pinned to DOUBLE on output by the parity layer;
* every top-k carries a deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from etl_tj_project_spark.cache import cache_scope, persist
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.sources.testdata import load_table

PRICE = DecimalType(18, 2)

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
        F.sum(F.col("o_totalprice").cast(PRICE)).cast(PRICE).alias("revenue")
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
            F.sum(F.col("value").cast(PRICE)).cast(PRICE).alias("value_sum"),
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
    # materialized eagerly so the cache is released before return.
    with cache_scope(spark):
        cents, train = sim.train_kmeans_with_cache(e, k=8, iters=2)
        q = train.filter(F.col("vec_id") == 0)
        # assign stays "expr" at THIS scale: the Arrow probe wins above
        # ~10^4 rows (strain bench: 8.5 -> 3.7 s at 80k vectors) but at
        # sf0.1's 2,000 vectors the Python-stage startup costs more than
        # the HOF assignment it replaces (measured 1.45 -> 1.9 s). A real
        # corpus-scale caller passes assign="arrow" (the strain bench does).
        top = sim.ivf_topk(train, q, k=10, centroids=cents).select(
            "vec_id", F.round("cosine", 9).alias("cosine")
        )
        rows = top.collect()
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
    with cache_scope(spark):
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
    from etl_tj_project_spark.functions import text as tx2

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    per_doc = d.select(
        "source",
        tx2.doc_fingerprint("text").alias("fp"),
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
    # The span frame feeds BOTH the repeated-fingerprint aggregate and
    # the join-back; without a persist the tokenize+window-md5 explode
    # runs twice over the corpus (round 14).
    w = persist(
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

from etl_tj_project_spark.operators import classifier as _clf  # noqa: E402

# The shipped "model": integer marker weights over the corpus
# vocabulary (a real pipeline trains these offline; inference shape is
# what this entry pins). Positive = content-bearing engine terms,
# negative = filler; bigram features catch degenerate repetition.
# (Chosen collision-free under the md5 bucket hash — "join" and
# "a a" collide with "the" and "a" at N_BUCKETS=1024, so "group" and
# "a the" stand in; injectivity is pinned in tests/test_classifier.py.)
_CLF_WEIGHTS: list[tuple[str, int]] = [
    ("spark", 40), ("data", 30), ("query", 30), ("vector", 25),
    ("window", 20), ("stream", 20), ("group", 15), ("agg", 15),
    ("merge", 15), ("sort", 10), ("hash", 10), ("column", 10),
    ("slow", -40), ("small", -25), ("big", -25), ("the", -20),
    ("a", -30), ("row", -10), ("line", -10),
    ("spark data", 50), ("fast fast", 30), ("slow slow", -60),
    ("table table", -30), ("the the", -40), ("a the", -50),
]

_CLF_VALUES = ", ".join(f"('{w}', {n})" for w, n in _CLF_WEIGHTS)


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
    w = _clf.weight_table(spark, _CLF_WEIGHTS)
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
    w = _clf.weight_table(spark, _CLF_WEIGHTS)
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
