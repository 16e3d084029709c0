package graft.queries

import graft.Tables._
import graft.functions.TextNorm
import graft.ops.{RangeJoin, Sessionize, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}

/** Round-6 batch 2: operators the engine still lacked a first-class,
  * oracle-checked story for —
  *
  *  - `j5_range_join`: binned point-in-interval join
  *    ([[graft.ops.RangeJoin]]) — the equi-join rewrite of a non-equi
  *    BETWEEN join that Spark would otherwise plan as
  *    BroadcastNestedLoopJoin. Checked against DuckDB's plain
  *    non-equi join on the same inputs.
  *  - `x5_session_window`: Spark's NATIVE `session_window` grouping
  *    (the same function the streaming sessionizer uses) on the
  *    events table, vs the gaps-and-islands oracle. Pins the built-in
  *    operator's merge semantics (new session when gap >= threshold;
  *    window end = last event + gap) against the hand-rolled
  *    `Sessionize.sessionize` family.
  *  - `x4_unicode_norm`: Unicode NFC canonicalization + diacritic
  *    folding via the native codegen'd expressions
  *    ([[graft.functions.UnicodeNfc]], [[graft.functions.StripAccents]])
  *    vs DuckDB's `nfc_normalize`/`strip_accents` — two independent
  *    UAX #15 implementations (ICU-less Java vs utf8proc) agreeing
  *    byte-for-byte on mixed precomposed/decomposed text.
  *  - `x4_winnow_poly`: winnowing fingerprints over the POSITIONAL
  *    shingle sequence with the oracle-expressible md5-derived
  *    60-bit hash ([[graft.ops.TextOps.polyHash60]]) — the first
  *    fully hash-checked winnowing query (`x4_winnowing` keeps the
  *    xxhash64 production variant, rows-only by necessity).
  *  - `x3_ann_pq`: IVF-PQ-style ANN ([[graft.ops.Similarity.pqTopK]])
  *    — per-subspace k-means codebooks, ADC candidate scoring over
  *    the m-code index, exact-cosine rerank. Rows-only (approximate
  *    by construction); RecallSpec pins measured recall@5 = 0.87 vs
  *    brute force at the harness parameters.
  *  - `j12_interval_join`: interval-overlap join
  *    ([[graft.ops.RangeJoin.intervalOverlapJoin]]) — dedup-free via
  *    the first-shared-bin filter.
  *  - `j5_rule_rewrite`: the j5 workload written as a naive BETWEEN
  *    join and fixed by the injected
  *    [[graft.plans.RangeJoinRewriteRule]] (auto-sampled bin width) —
  *    the oracle gate-checks the optimizer rewrite end-to-end.
  *  - `p9_evolve_union`: schema-evolution union
  *    (`unionByName(allowMissingColumns)`) — null-fill by NAME, the
  *    engine-side half of ingesting evolving landed files.
  */
object Parity11 {
  type Q = (SparkSession, String) => DataFrame

  /** Range-join bin width in days — near the median interval span
    * (per-order ship windows run ~30-130 days). */
  private val BinDays = 32L

  val queries: Map[String, Q] = Map(
    // ---- binned point-in-interval range join -----------------------
    // Intervals: per-order [first ship, last ship + 14d] windows
    // (orders 1..2000); points: every order's date. The op replicates each
    // interval onto the ~2-5 bins it covers and equi-joins points by
    // bin — candidate-sized shuffles, no nested loop, no broadcast of
    // a big side (PlanShapeSpec pins the absence of BNLJ).
    "j5_range_join" -> { (s, d) =>
      val iv = lineitem(s, d)
        .filter(col("l_orderkey") <= 2000)
        .groupBy(col("l_orderkey").as("i_orderkey"))
        .agg(
          min(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType).as("lo_d"),
          (max(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType) + 14).as("hi_d"))
      // point set bounded by keyspace (o_orderkey <= 30000), so the
      // pair count — intervals × points-per-interval — is capped by
      // the keys instead of growing with the full orders scan. It is
      // not small: the windows span a median 1,463 days, so at sf0.01
      // the 1,950 intervals meet 16,212,224 (point, interval) pairs
      // among 15,000 points (DuckDB count), and j5_rule_rewrite's
      // span-derived bin width is 1,463 days
      val pt = orders(s, d)
        .filter(col("o_orderkey") <= 30000)
        .select(
          col("o_orderkey"),
          unix_date(col("o_orderdate").cast(DateType))
            .cast(LongType).as("p_d"))
      RangeJoin.pointInInterval(pt, "p_d", iv, "lo_d", "hi_d", BinDays)
        .groupBy(col("i_orderkey"))
        .agg(
          count(lit(1)).as("n_points"),
          min(col("p_d")).as("min_pd"),
          max(col("p_d")).as("max_pd"))
        .orderBy(col("i_orderkey"))
    },

    // ---- interval-overlap join (interval × interval) ---------------
    // Even- vs odd-orderkey ship windows: which pairs of order
    // activity windows overlap, and by how many days. Both sides
    // explode onto covered bins; each pair meets exactly once (the
    // first-shared-bin filter), so there is no dedup pass. The exact
    // overlap arithmetic is integer day math.
    "j12_interval_join" -> { (s, d) =>
      // NARROW 4-day windows at first ship: wide per-order spans over
      // a dense keyspace would overlap almost everywhere (a 3.4M-pair
      // result measured nothing but pair materialization)
      def side(parity: Int, pfx: String) = lineitem(s, d)
        .filter(col("l_orderkey") <= 2000 &&
          pmod(col("l_orderkey"), lit(2)) === parity)
        .groupBy(col("l_orderkey").as(s"${pfx}_key"))
        .agg(
          min(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType).as(s"${pfx}_lo"),
          (min(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType) + 3).as(s"${pfx}_hi"))
      RangeJoin.intervalOverlapJoin(
          side(0, "a"), "a_lo", "a_hi", side(1, "b"), "b_lo", "b_hi", BinDays)
        .select(col("a_key"), col("b_key"),
          (least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo")) + 1).as("overlap_days"))
        .orderBy(col("a_key"), col("b_key"))
    },

    // ---- the same join written NAIVELY, fixed by the optimizer -----
    // Identical workload to j5_range_join but expressed as the plain
    // BETWEEN join a SQL user would write; the RangeJoinRewriteRule
    // (injected via GraftExtensions in the Verify/Bench sessions)
    // turns it into the binned plan, deriving the bin width from a
    // planning-time sample of the interval spans — no conf, no
    // session mutation, unit-correct by construction. The oracle
    // compare therefore gate-checks the REWRITE end-to-end on real
    // data, not just the spec's toy frames. The only other pure
    // range join in the suite (j9's 3-row band dim) is kept on its
    // broadcast loop by the small-side guard.
    "j5_rule_rewrite" -> { (s, d) =>
      val iv = lineitem(s, d)
        .filter(col("l_orderkey") <= 2000)
        .groupBy(col("l_orderkey").as("i_orderkey"))
        .agg(
          min(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType).as("lo_d"),
          (max(unix_date(col("l_shipdate").cast(DateType)))
            .cast(LongType) + 14).as("hi_d"))
      val pt = orders(s, d)
        .filter(col("o_orderkey") <= 30000)
        .select(
          col("o_orderkey"),
          unix_date(col("o_orderdate").cast(DateType))
            .cast(LongType).as("p_d"))
      pt.join(iv,
          col("p_d") >= col("lo_d") && col("p_d") <= col("hi_d"))
        .groupBy(col("i_orderkey"))
        .agg(
          count(lit(1)).as("n_points"),
          min(col("p_d")).as("min_pd"),
          max(col("p_d")).as("max_pd"))
        .orderBy(col("i_orderkey"))
    },

    // ---- native session_window sessionization ----------------------
    "x5_session_window" -> { (s, d) =>
      val ev = eventsNs(s, d).select(
        col("user_id"),
        timestamp_micros(Sessionize.nsToUs(col("ts"))).as("ts_t"),
        col("value"))
      ev.groupBy(
          col("user_id"),
          session_window(col("ts_t"), "30 minutes").as("sw"))
        .agg(
          count(lit(1)).as("n_events"),
          Exact.sumD(col("value")).as("session_value"))
        .select(
          col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"),
          col("session_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // ---- Unicode canonicalization (native expressions) -------------
    // Input mixes decomposed combining marks (doc_id%4 ∈ {0,1}),
    // precomposed accents (2), and plain ASCII (3) onto a text
    // prefix. raw_len pins that the pre-normalization forms really
    // differ; nfc/folded pin that both engines' normalizers agree.
    "x4_unicode_norm" -> { (s, d) =>
      val suffix = element_at(
        array(
          lit(" Cafe\u0301 cre\u0300me"),   // decomposed combining marks
          lit(" u\u0308ber sen\u0303or"),   // decomposed combining marks
          lit(" d\u00e9j\u00e0 vu fa\u00e7ade"), // precomposed
          lit(" plain ascii")),
        (pmod(col("doc_id"), lit(4)) + 1).cast(IntegerType))
      documents(s, d)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 24), suffix).as("raw"))
        .select(
          col("doc_id"),
          length(col("raw")).as("raw_len"),
          TextNorm.unicode_nfc(col("raw")).as("nfc"),
          TextNorm.strip_accents(col("raw")).as("folded"))
        .orderBy(col("doc_id"))
    },

    // ---- IVF-PQ ANN (ADC + exact rerank) ---------------------------
    // Product-quantization search: per-subspace k-means codebooks,
    // vectors encoded to m codes, probes score candidates via an
    // m·ksub lookup table (slim equi-join + hash agg — full vectors
    // untouched), exact-cosine rerank of the shortlist. Approximate
    // by construction, so the harness row is the bounded-oracle form
    // (Similarity.recallChecked, like x3_ann_lsh/ivf): exact
    // k-th-neighbor cosine per probe as the DuckDB value assertion +
    // recall@5 >= 0.8 boolean (RecallSpec's floor with these exact
    // parameters; measured 0.867 trained).
    "x3_ann_pq" -> { (s, d) =>
      val emb = embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 3)
      val books = Similarity.pqCodebooks(emb, dim = 64, m = 8,
        ksub = 16, iters = 2)
      val ann = Similarity.pqTopK(emb, probes, dim = 64,
        codebooks = books, m = 8, k = 5, shortlist = 100)
      Similarity.recallChecked(ann, emb, probes, k = 5, floor = 0.8)
    },

    // ---- schema-evolution union (ELT ingest across file versions) --
    // The unionByName(allowMissingColumns) half of schema evolution:
    // v1 batches lack a column later versions carry; the union fills
    // nulls by NAME, not position — the engine-side behavior behind
    // COPY INTO over evolving landed files (the read half, parquet
    // mergeSchema, is pinned in SinksSpec). Map-only: two pruned
    // scans and a union, no shuffle before the output sort.
    "p9_evolve_union" -> { (s, d) =>
      val v1 = orders(s, d).filter(col("o_orderkey") <= 4000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val v2 = orders(s, d)
        .filter(col("o_orderkey") > 4000 && col("o_orderkey") <= 8000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    },

    // ---- URL parsing (domain filtering for web corpora) ------------
    // Every web-scale corpus pipeline filters/buckets by registrable
    // domain and strips tracking queries; this exercises Spark's
    // parse_url (HOST/PATH/QUERY extraction, codegen'd) on URLs
    // synthesized from document fields. The oracle RECONSTRUCTS the
    // expected parts from the same fields — so the check proves
    // parse_url's extraction semantics rather than mirroring a regex
    // on both sides. Map-only at any scale.
    "x4_url_parse" -> { (s, d) =>
      documents(s, d)
        .withColumn("url", concat(
          lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id"), lit("?lang="), col("lang")))
        .select(
          col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          // registrable-domain bucket key: strip the subdomain
          expr("substring_index(parse_url(url, 'HOST'), '.', -2)")
            .as("domain"))
        .orderBy(col("doc_id"))
    },

    // ---- oracle-checked winnowing fingerprints ---------------------
    // Positional shingle sequence -> md5-derived 60-bit hash per
    // shingle -> window-of-4 minima -> distinct fingerprint set,
    // reported as order-independent scalars (count / xor-fold / min).
    // All map-only per document; the hash column is bound before
    // winnowing so it evaluates once per row.
    "x4_winnow_poly" -> { (s, d) =>
      documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("hs", transform(
          TextOps.shingleSeq(col("toks"), 3),
          g => TextOps.polyHash60(g)))
        .withColumn("fp", TextOps.winnowFromHashes(col("hs"), 4))
        .select(
          col("doc_id"),
          size(col("fp")).cast(LongType).as("n_fingerprints"),
          aggregate(col("fp"), lit(0L),
            (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"),
          array_min(col("fp")).as("fp_min"))
        .orderBy(col("doc_id"))
    })

  val oracles: Map[String, String] = Map(
    // shared bounded ANN oracle (see ExtQueries.annRecallOracle)
    "x3_ann_pq" -> ExtQueries.annRecallOracle,
    "j5_range_join" ->
      """WITH iv AS (SELECT l_orderkey AS i_orderkey,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) AS lo_d,
             CAST(max(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) + 14 AS hi_d
           FROM lineitem WHERE l_orderkey <= 2000 GROUP BY 1),
         pt AS (SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
               AS BIGINT) AS p_d
           FROM orders WHERE o_orderkey <= 30000)
         SELECT i_orderkey, count(*) AS n_points,
           min(p_d) AS min_pd, max(p_d) AS max_pd
         FROM pt JOIN iv ON p_d BETWEEN lo_d AND hi_d
         GROUP BY i_orderkey ORDER BY i_orderkey""",
    "j12_interval_join" ->
      """WITH sideA AS (SELECT l_orderkey AS a_key,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) AS a_lo,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) + 3 AS a_hi
           FROM lineitem WHERE l_orderkey <= 2000 AND l_orderkey % 2 = 0
           GROUP BY 1),
         sideB AS (SELECT l_orderkey AS b_key,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) AS b_lo,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) + 3 AS b_hi
           FROM lineitem WHERE l_orderkey <= 2000 AND l_orderkey % 2 = 1
           GROUP BY 1)
         SELECT a_key, b_key,
           least(a_hi, b_hi) - greatest(a_lo, b_lo) + 1 AS overlap_days
         FROM sideA JOIN sideB ON a_lo <= b_hi AND b_lo <= a_hi
         ORDER BY a_key, b_key""",
    "j5_rule_rewrite" ->
      """WITH iv AS (SELECT l_orderkey AS i_orderkey,
             CAST(min(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) AS lo_d,
             CAST(max(CAST(l_shipdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) + 14 AS hi_d
           FROM lineitem WHERE l_orderkey <= 2000 GROUP BY 1),
         pt AS (SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
               AS BIGINT) AS p_d
           FROM orders WHERE o_orderkey <= 30000)
         SELECT i_orderkey, count(*) AS n_points,
           min(p_d) AS min_pd, max(p_d) AS max_pd
         FROM pt JOIN iv ON p_d BETWEEN lo_d AND hi_d
         GROUP BY i_orderkey ORDER BY i_orderkey""",
    "x5_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value
           FROM events),
         m AS (SELECT *, lag(ts_us) OVER
             (PARTITION BY user_id ORDER BY ts_us) AS prev_us FROM e),
         f AS (SELECT *, CASE WHEN prev_us IS NULL
               OR ts_us - prev_us >= 1800000000
             THEN 1 ELSE 0 END AS new_session FROM m),
         g AS (SELECT *, sum(new_session) OVER
             (PARTITION BY user_id ORDER BY ts_us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_seq FROM f)
         SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) + 1800000000 AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS session_value
         FROM g GROUP BY user_id, session_seq
         ORDER BY user_id, session_start_us""",
    "x4_unicode_norm" ->
      """WITH s AS (SELECT doc_id, substring(text, 1, 24) ||
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN ' Cafe' || chr(769) || ' cre' || chr(768) || 'me'
             WHEN 1 THEN ' u' || chr(776) || 'ber sen' || chr(771) || 'or'
             WHEN 2 THEN ' d' || chr(233) || 'j' || chr(224) || ' vu fa'
               || chr(231) || 'ade'
             ELSE ' plain ascii' END AS raw
           FROM documents)
         SELECT doc_id, length(raw) AS raw_len,
           nfc_normalize(raw) AS nfc,
           strip_accents(raw) AS folded
         FROM s ORDER BY doc_id""",
    "p9_evolve_union" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
         FROM orders WHERE o_orderkey <= 4000
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey > 4000 AND o_orderkey <= 8000
         ORDER BY o_orderkey""",
    "x4_url_parse" ->
      """SELECT doc_id,
           source || '.example.com' AS host,
           '/doc/' || doc_id AS path,
           'lang=' || lang AS query,
           'example.com' AS domain
         FROM documents ORDER BY doc_id""",
    "x4_winnow_poly" ->
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN length(t) >= 3
             THEN list_transform(generate_series(1, length(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE CAST([] AS VARCHAR[]) END AS s FROM tk),
         hs AS (SELECT doc_id, list_transform(s, g ->
             CAST(list_sum(list_transform(generate_series(1, 15),
               i -> (CAST(strpos('0123456789abcdef',
                 substring(md5(g), i, 1)) AS BIGINT) - 1)
                 << (4 * (15 - i)))) AS BIGINT)) AS h FROM sh),
         wn AS (SELECT doc_id, CASE WHEN length(h) >= 4
             THEN list_distinct(list_transform(
                  generate_series(1, length(h) - 3),
                  i -> list_min(h[i:i+3])))
             ELSE list_distinct(h) END AS fp FROM hs)
         SELECT doc_id,
           CAST(length(fp) AS BIGINT) AS n_fingerprints,
           CAST(CASE WHEN length(fp) = 0 THEN 0
             ELSE list_reduce(fp, (a, b) -> xor(a, b)) END
             AS BIGINT) AS fp_xor,
           CAST(list_min(fp) AS BIGINT) AS fp_min
         FROM wn ORDER BY doc_id"""
  )
}
