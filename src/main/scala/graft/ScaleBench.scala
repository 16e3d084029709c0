package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale-up experiment: replicate sf0.1 into an sf1-equivalent
  * (consistent key offsets so every join key keeps referential
  * integrity; dimension tables nation/region stay single — exactly
  * how real warehouses scale), then run a headline-query subset at
  * BOTH scales in one JVM and report the per-query scale factor.
  *
  * What this demonstrates that sf0.1 alone cannot: whether each
  * plan's cost is linear in the fact size (scan-bound aggregates,
  * broadcast-dim joins, map-only text kernels ≈ 10×), or carries a
  * super-linear term that a 1000× cluster would hit (pair
  * explosions, global sorts are n·log n, candidate joins grow with
  * duplicate density). Measured numbers live in SCALE.md.
  *
  * Run: sbt "runMain graft.ScaleBench"   (replicates a tier on first use)
  */
object ScaleBench {

  /** columns offset per replica so keys stay unique AND consistent
    * across tables (same offset rule for both sides of every FK). */
  private val KeyOffsets: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  private val Offset = 100000000L // > any sf0.1 key; replicas stay disjoint

  /** Write `copies` key-shifted unions of every fact with an
    * IDENTICAL 32-file layout per scale. Layout parity matters more
    * than it looks: the driver's sf0.1 files are single-row-group
    * parquet, and one row group = ONE scan task no matter the core
    * count — comparing against them would measure file layout, not
    * data volume. (That finding is itself in SCALE.md: row-group
    * sizing is the scan-parallelism knob at 100 TB.) */
  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    KeyOffsets.foreach { case (table, keys) =>
      val src = Tables.t(spark, srcDir, table)
      val shifted = (0 until copies).map { i =>
        keys.foldLeft(src) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * Offset))
        }
      }
      shifted.reduce(_ union _).repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    // dims stay single-copy: FKs (c_nationkey, s_nationkey) still land
    Seq("nation", "region").foreach { table =>
      Tables.t(spark, srcDir, table)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
  }

  /** headline subset: one per plan family, none with sf-pinned
    * literal key filters (those measure the filter, not the scale).
    * x2_minhash_lsh runs only up to 10 copies: replication gives
    * every document 10/100 exact clones, and candidate PAIRS grow
    * quadratically in clone multiplicity — a replication artifact
    * (real corpora don't clone every doc 100×), but itself a useful
    * measured fact about pair-join operators (see SCALE.md). */
  private val Subset = Seq(
    "q1_agg", "q3_top_revenue", "q6_filter_agg", "q9_profit",
    "q18_having", "j10_large_smj", "q21_waiting",
    "x1_dedup_exact", "x2_minhash_lsh", "x4_quality_score",
    "x5_sessionize", "x8_total_sort",
    // round-6 batch 2: fixed 3-probe ANN over a growing PQ index
    // (encode is the linear stage; search cost is shortlist-bounded),
    // and the native session_window sessionizer (event replication
    // multiplies events-per-session, not session count)
    "x3_ann_pq", "x5_session_window",
    // round-10 batch: CDC compaction + snapshot-state machinery
    // (events-linear keyed windows), the fixed-size CMS (counter
    // matrix must NOT grow with the corpus), OPTIMIZE planning
    // (per-source prefix sum), and the forward as-of (union-merge
    // window). x8_hilbert_curve is deliberately absent: its query
    // filters to a fixed key range, so replication doesn't grow it —
    // the layout path is measured by HilbertSpec instead.
    "x1_changelog_compact", "x6_cms_est", "x8_compaction_plan",
    "asof_forward",
    // round-10 batch 6/7: iterative graph rank (fixed 5 rounds, edge
    // relation linear in the fact), the CMS JOIN estimator (both
    // counter grids fixed-size), corpus LM scoring (the LM relation
    // is vocab²-bounded — replication clones text, so only the
    // doc-side bigram stream grows), and canonical-URL dedup
    // (map-only parse + one keyed agg). x3_knn_graph is deliberately
    // absent: replication multiplies LABEL-block sizes, so its pair
    // stage grows quadratically as a replication artifact (real
    // corpora grow the number of clusters, not every cluster — the
    // SemDeDup posture; same reasoning as x2_minhash_lsh below).
    "x9_pagerank", "x6_cms_join_est", "x4_lm_score", "x2_url_dedup",
    // round-10 batch 9/11: exact triangle count and k-core peel.
    // Key-offset replication keeps each replica's co-purchase graph
    // a DISJOINT component (same structure ×N), so both should scale
    // linearly — which is exactly the orientation-bound claim worth
    // measuring. x9_common_neighbors joined the subset in round 11:
    // the wedge equi-join formulation is Σ deg_s(w)² -bounded, and
    // disjoint replication adds wedges linearly — the old
    // (md5-sample)² crossJoin grew quadratically at a fixed sample
    // rate and was deliberately absent.
    "x9_triangles", "x9_kcore", "x9_common_neighbors",
    // round-11 batch 2/3: the HLL registers and the per-file blooms
    // are fixed-size metadata by construction (64 rows; files×words)
    // — the claim worth measuring is that only the SCAN grows; the
    // retention triangle's output is (cohorts × offsets)-bounded
    // while its distinct relation grows with events. x2_lsh_scurve is
    // deliberately absent: it rides the same all-pairs join as
    // x2_minhash_lsh and inherits its clone-replication artifact.
    "x6_hll_poly", "x5_retention_cohorts", "x8_bloom_prune",
    // round-11 batch 4/5: LPA is pagerank-shaped (per-round broadcast
    // label vector + one keyed vote shuffle — linear expectation);
    // link prediction rides the Σ deg²-bounded wedge stream (disjoint
    // replication adds wedges linearly, same claim as
    // x9_common_neighbors); the skew audit is one map-side-combined
    // grouped count per candidate — pure scan+agg scaling.
    "x9_label_prop", "x9_link_predict", "x8_skew_audit",
    // round-11 batch 8/9: HITS is pagerank-shaped (broadcast score
    // vector + keyed sum per half-step — linear expectation); the
    // trimmed mean is ONE rank window inside the type partitioning
    // (does the per-type sort survive 100×?); the bootstrap's claim
    // is that cost tracks the DAY AGGREGATE, not the event stream —
    // the resample grid is B·days metadata at any corpus size.
    "x9_hits", "x6_trimmed_mean", "x6_bootstrap_ci",
    // round-11 batch 10: the KM claim is the retention-triangle one —
    // the (user, day) distinct relation is entity-grid-bounded, so
    // event replication only grows the scan+distinct, and every
    // window after runs on streak-count rows.
    "x5_kaplan_meier",
    // round-11 batch 12: the radius join is OUTPUT-bound by geometry
    // — replication grows density in a fixed domain, so true pairs
    // grow ~quadratically and the honest claim is that candidate
    // work tracks the OUTPUT (grid cells bound candidates to
    // Σ 9·occupancy²), not n² of all points. A fixed-density corpus
    // (domain growing with the data) would be linear.
    "j13_grid_radius",
    // round-12 batch: the four round-11 latecomers. delivery_gaps'
    // calendar spine is TIME-RANGE-sized (replication multiplies
    // density, not span, so the anti-join's right side is fixed and
    // only the scan + distinct grow — and gaps can only close);
    // embed_drift's output is (labels × dims)-bounded while its
    // decimal component sums grow with the scan. cluster_split and
    // sample_curve ride the near-dup pair join, so they inherit
    // x2_minhash_lsh's clone-replication artifact (every doc gets
    // C(copies,2) true clone pairs) and run the 1x/10x tiers only.
    "x5_delivery_gaps", "x3_embed_drift", "x7_cluster_split",
    "x2_sample_curve",
    // round-12 addition: the attribution interval join. user_id is
    // SHARED across replicas (only event_id is offset), so both the
    // click and impression side of every user grow with the tier and
    // the matched output grows ~quadratically — an OUTPUT-bound
    // artifact (the join itself is one user-keyed shuffle; a real
    // corpus grows users, keeping per-user event counts human-scale).
    // 1x/10x carry the claim; 100x cut like j13's densification.
    "x5_stream_attrib",
    // perceptual image dedup: map-only hashing + the banded Hamming
    // join. 1x/10x are the claim (r10 measured 2.5 — sub-linear);
    // the 100x tier hits a FIXTURE artifact: phashPixel's 16-bit
    // mid-square state means only 65536 distinct pixel functions
    // exist, so 1 M images collapse into ~15-way duplicate classes
    // and the pair OUTPUT grows quadratically in class size (measured
    // 29.9x/decade) — the same clone-family regime as x2_minhash_lsh,
    // from the synthesis not the operator.
    "mm_phash_pairs",
    // round-12 batch 4/5 latecomers. dsir is one token explode + a
    // 256-row broadcast ratio table + one doc-keyed aggregate —
    // scan-linear, with a fixed-size model exactly like the CMS rows.
    // bm25 is the same explode feeding two hash aggregates; the
    // idf/stats relations are query-term-sized. gopher_rules' 2-gram
    // (doc_id, gram) aggregate is the heavy one: grams are
    // near-unique per doc, so partial aggregation can't shrink the
    // shuffle and cost should track the TOKEN STREAM (~linear, but
    // the constant is the claim worth measuring). doremi collapses
    // the scan to one row per domain and iterates with unpartitioned
    // windows on that tiny frame — cost must track the scan alone.
    "x7_dsir_sample", "x4_bm25_topk", "x4_gopher_rules",
    "x7_doremi_weights",
    // batch 6: the caption gate is two media-keyed histogram
    // aggregates + a (media, bin) join carrying ≤ 8 rows per media —
    // scan-linear is the claim; the epoch planner is the doremi shape
    // (per-source frame + unpartitioned windows) and must stay flat.
    "mm_caption_align", "x7_epoch_plan",
    // video fingerprints ride the same banded join as audio and
    // inherit the same chunk-birthday artifact at 10 M media —
    // 1x/10x carry the claim (plus 4 PNG decodes per payload, the
    // real per-row constant worth measuring).
    "mm_video_fp",
    // batch 7: soft dedup rides the near-dup pair machinery
    // (clone-replication artifact — 1x/10x, like cluster_split); the
    // recall curve's sweep shares one centroid training and one
    // exact-truth pass, each point an equi-join on list id — the
    // exact-truth stage is the linear term (20 probes × n), the IVF
    // points are n/nLists·nProbe each.
    "x2_soft_dedup", "x3_ann_recall_curve",
    // batch 10: Theil–Sen — the bootstrap_ci claim re-measured on a
    // robust estimator: the O(days²) pair join runs on the
    // calendar-bounded day aggregate, so cost must track the grouped
    // count of the scan, not the pair stage.
    "x6_theil_sen",
    // Deliberately absent round-13 rows: the Parity62 load-path
    // replays (s3/s4/s6/s7/s9/s11/s14) drive multi-step stateful
    // protocols over key-modulus slices — their cost is the protocol
    // round trips (writes, log reads, log commits), constants
    // at any tier, not data-volume scaling; the one format-throughput
    // claim that DOES grow with the fact is already measured by
    // s12_orc_roundtrip. s5_partition_prune writes one directory per
    // segment of a DIMENSION-shaped table (5 segments at every sf) —
    // a tier row would measure the 5-file write, not pruning. The
    // x9_*_msg arms are measured by the rank_arms block below (both
    // arms, 10x/100x), not as Subset rows, so the broadcast twin
    // stays the Subset's like-for-like carry.
    // Deliberately absent round-12 rows: s13_binary_ingest lands a
    // FIXED 200-file fixture at every sf (a scale row would time the
    // fixture, not the source; the binaryFile scan's parallelism
    // claim is maxPartitionBytes batching, documented at the query);
    // x5_attrib_outer rides the identical user-keyed interval join as
    // x5_stream_attrib (measured above) — outer-ness changes emitted
    // nulls, not join work.
    // batch 9: the ORC round trip measures columnar WRITE+READ
    // throughput scaling (the only Subset row that writes data) —
    // the slice filter keys on l_orderkey, so the written volume
    // grows linearly with the fact.
    "s12_orc_roundtrip",
    // batch 8: the composed pipeline. Unlike every other near-dup
    // rider this one runs ALL tiers: the exact-dedup stage collapses
    // the key-offset replicas (identical text, new ids) BEFORE the
    // pair stage forms candidates, so the clone artifact that forces
    // 1x/10x on x2_* is absorbed by the pipeline itself — measuring
    // that the production stage ordering (cheap gates first) holds at
    // scale IS the row's claim.
    "x7_curation_e2e",
    // acoustic fingerprint pairs: the banded Hamming join over
    // PSEUDO-RANDOM 63-bit fingerprints — unlike mm_phash_pairs'
    // duplicate-class artifact, the quadratic term here is chunk
    // BIRTHDAY collisions (candidates ~ 4·n²/2^16: distinct
    // recordings collide in a 16-bit chunk at rate 1/65536). 1x/10x
    // carry the claim; at 100x (10 M media) that term alone is ~6G
    // candidate pairs — the scale path is wider/more chunks (32-bit
    // bands over a 128-bit fingerprint) or the class collapse, both
    // documented next to the image path.
    "mm_audio_fp")
  private val SkipAt100 = Set("x2_minhash_lsh",
    // near-dup pair machinery: clone multiplicity makes candidate
    // pairs quadratic in copies — a replication artifact, same as
    // x2_minhash_lsh (real corpora add documents, not 100 clones of
    // every document). 1x/10x carry the claim.
    "x7_cluster_split", "x2_sample_curve", "x5_stream_attrib",
    "mm_phash_pairs",
    // chunk-birthday candidates are ~4·n²/2^16 over pseudo-random
    // fingerprints — ~6G pairs at the 10 M-media tier (see Subset
    // note); 1x/10x carry the claim.
    "mm_audio_fp", "mm_video_fp", "x2_soft_dedup",
    // same densification artifact as the LSH row: key-offset
    // replication multiplies POINT DENSITY in the fixed grid domain,
    // so true radius pairs grow ~quadratically (real spatial corpora
    // grow the domain with the data). The 100x tier ground to ~2G
    // candidate pairs + a 30M-pair global sort and was cut; the
    // 1x/10x readings carry the claim.
    "j13_grid_radius")

  /** The single-task arm against the distributed rounds of the four
    * operators that switch to it ([[graft.ops.Iter.local]]), at
    * relation sizes around [[graft.ops.Iter.LocalRows]]: one
    * label-shuffled chain (ranks), the same chain closed into one
    * cycle (cycleLabels) and the same chain as undirected edges
    * (large-star), and chorded 64-node rings sized so nodes plus
    * symmetrized edges make the row count (SCC). Each arm is timed
    * once on a cached input, outputs `require`d equal; `rounds` is
    * the distributed round count. SCALE.md records the readings. */
  private[graft] def localArm(spark: SparkSession): String = {
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def digest(df: DataFrame): Long = df
      .agg(sum(pmod(xxhash64(col("*")), lit(1000000007L)))).head().getLong(0)
    def both(f: Long => DataFrame): (Double, Double) = {
      val (a, local) = timed(digest(f(Long.MaxValue)))
      val (b, dist) = timed(digest(f(-1L)))
      require(a == b, s"single-task arm differs from the rounds: $a vs $b")
      (local, dist)
    }
    Seq(1L << 10, 1L << 14, 1L << 17, 1L << 20).map { n =>
      val pos = spark.range(1, n + 1)
        .select(col("id").as("p"), xxhash64(col("id")).as("label"))
      val chain = pos.as("x")
        .join(pos.as("y"), col("x.p") === col("y.p") + 1, "left")
        .select(col("x.label").as("node"),
          coalesce(col("y.label"), col("x.label")).as("succ")).cache()
      val cycle = pos.as("x")
        .join(pos.as("y"), col("y.p") === col("x.p") % n + 1)
        .select(col("x.label").as("node"), col("y.label").as("succ"))
        .cache()
      val ring = 64L
      val groups = math.max(1L, n / 13 / ring) // 6 chords: 13 rows a node
      val nodes = spark.range(0, groups * ring).select(col("id").as("v"))
        .cache()
      val edges = Seq(1, 2, 4, 8, 16, 32).map { step =>
        nodes.select(col("v").as("u"), (col("v") % groups +
          ((expr(s"v DIV $groups") + step) % ring) * groups).as("w"))
      }.reduce(_ unionByName _).cache()
      Seq(chain, cycle, nodes, edges).foreach(_.count())
      val lr = both(c => graft.ops.ListRank.ranks(chain, None, 64, None, c))
      val cl = both(c =>
        graft.ops.ListRank.cycleLabels(cycle, None, 64, None, c))
      val sc = both(c => graft.ops.Scc.components(nodes, edges, None, 64, c))
      val cc = both(c => graft.ops.Connect.largeStarRounds(chain
        .filter(col("node") =!= col("succ")), "node", "succ", 64, None, c)._1)
      Seq(chain, cycle, nodes, edges).foreach(_.unpersist())
      def js(t: (Double, Double)) =
        f"""{"local_sec":${t._1}%.2f,"rounds_sec":${t._2}%.2f}"""
      val rounds = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
      s""""n$n":{"rounds":$rounds,"ranks":${js(lr)},""" +
        s""""cycleLabels":${js(cl)},"scc":${js(sc)},"largeStar":${js(cc)}}"""
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // three tiers, identical 32-file layout: 1x, 10x, 100x sf0.1, each
    // replicated on first use, so a run builds only the tiers its rows
    // and blocks read (local_arm and cc_chain read none)
    val tierDirs = Map(1 -> "target/sf01rw", 10 -> "target/sf1",
      100 -> "target/sf10")
    def tier(copies: Int): String = {
      val dir = tierDirs(copies)
      if (!Files.exists(Paths.get(s"$dir/lineitem.parquet")))
        replicate(spark, src, dir, copies)
      dir
    }

    def time(name: String, d: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup (codegen/JIT) untimed at the small scale
    time("q1_agg", src)

    // min of 2 runs per point damps JIT/GC noise
    def best(name: String, d: String): Double =
      math.min(time(name, d), time(name, d))
    // optional comma-separated filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    // optional planted-block filter: SPARK_GRAFT_SCALE_BLOCKS=
    // knn_graph,kcore_arms runs just those blocks (and, unless
    // SPARK_GRAFT_SCALE_ONLY is also set, skips the Subset rows)
    val blocks =
      sys.env.get("SPARK_GRAFT_SCALE_BLOCKS").map(_.split(",").toSet)
    def blockOn(name: String): Boolean =
      blocks.map(_.contains(name)).getOrElse(only.isEmpty)
    val rowNames =
      if (blocks.nonEmpty && only.isEmpty) Seq.empty[String]
      else Subset.filter(n => only.forall(_.contains(n)))
    val rows = rowNames.map { name =>
      val t1 = best(name, tier(1))
      val t10 = best(name, tier(10))
      val t100 = if (SkipAt100(name)) -1.0 else best(name, tier(100))
      (name, t1, t10, t100)
    }
    val json = rows.map { case (n, t1, t10, t100) =>
      val r = if (t100 > 0) f"${t100 / t10}%.2f" else "null"
      f""""$n":{"x1_sec":$t1%.3f,"x10_sec":$t10%.3f,""" +
        f""""x100_sec":$t100%.3f,"r10":${t10 / t1}%.2f,"r100":$r}"""
    }.mkString("{", ",", "}")
    System.err.println(s"[scalebench] $json")
    // the planted-fixture experiments below are skipped under the
    // SPARK_GRAFT_SCALE_ONLY iteration filter (unless requested via
    // SPARK_GRAFT_SCALE_BLOCKS)
    if (only.isEmpty || blocks.nonEmpty) {
      // CC round-count shape on a planted deep chain (diameter 127):
      // min-label walks the diameter — one join+agg round per hop —
      // while large-star/small-star contracts paths exponentially.
      // At a billion-edge graph with long chains this is the difference
      // between hundreds of shuffle rounds and ~ten.
      if (blockOn("cc_chain")) locally {
        import spark.implicits._
        val chain = (1L until 128L).map(i => (i, i + 1)).toDF("s", "t")
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
        }
        val ((mlN, mlRounds), mlSec) = timed {
          val (df, r) = ops.Connect.minLabelRounds(chain, "s", "t", maxIter = 200)
          (df.filter(col("comp") === 1L).count(), r)
        }
        val ((lsN, lsRounds), lsSec) = timed {
          // cap -1: the distributed rounds this row prices (a 128-node
          // chain would otherwise finish in the single-task arm)
          val (df, r) = ops.Connect.largeStarRounds(chain, "s", "t", 30,
            None, -1L)
          (df.filter(col("comp") === 1L).count(), r)
        }
        require(mlN == 128 && lsN == 128, s"CC labels wrong: $mlN vs $lsN")
        System.err.println(
          f"""[scalebench] {"cc_chain_nodes":128,"min_label_rounds":$mlRounds,""" +
            f""""min_label_sec":$mlSec%.1f,"large_star_rounds":$lsRounds,""" +
            f""""large_star_sec":$lsSec%.1f}""")
      }

      // kNN graph: exact label-blocked all-pairs vs the IVF-list ANN
      // build at growing corpus size. Replication multiplies LABEL
      // block sizes, so the exact graph's pair stage grows
      // quadratically (the reason x3_knn_graph sits outside Subset);
      // the ANN build keeps candidates at n · nProbe · (n / nLists)
      // and grows nLists ∝ √n (8 at 2k vectors → 25 at 20k → 80 at
      // 200k), the standard IVF sizing — expected growth n^1.5 per
      // decade (~31.6x), sub-quadratic. Exact runs 1x/10x only
      // (single pass — at 10x it is already the quadratic lesson);
      // ANN runs 1x/10x/100x min-of-2.
      if (blockOn("knn_graph")) locally {
        def knnExact(dir: String): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries("x3_knn_graph")(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        def knnAnn(dir: String, nLists: Int): Double = {
          def once: Double = {
            val t0 = System.nanoTime()
            val emb = Tables.embeddings(spark, dir)
            val cents = ops.Similarity.kmeansCentroids(emb, k = nLists,
              iters = 3)
            ops.Similarity.ivfKnnGraph(emb, k = 3, nLists = nLists,
                nProbe = 6, centroids = Some(cents))
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val ex1 = knnExact(tier(1))
        val ex10 = knnExact(tier(10))
        // the quadratic only BITES at the 100x tier: at 10x the 20 M
        // blocked pairs are still one dense compute burst (~1 G long
        // mult-adds over 32 cores), so x1/x10 sit at the job floor —
        // the 100x point (2 G pairs) is where the slopes separate
        val ex100 = knnExact(tier(100))
        val an1 = knnAnn(tier(1), 8)
        val an10 = knnAnn(tier(10), 25)
        val an100 = knnAnn(tier(100), 80)
        System.err.println(
          f"""[scalebench] {"knn_graph":{"exact_x1":$ex1%.2f,""" +
            f""""exact_x10":$ex10%.2f,"exact_x100":$ex100%.2f,""" +
            f""""exact_r100":${ex100 / ex10}%.2f,""" +
            f""""ann_x1":$an1%.2f,"ann_x10":$an10%.2f,""" +
            f""""ann_x100":$an100%.2f,"ann_r10":${an10 / an1}%.2f,""" +
            f""""ann_r100":${an100 / an10}%.2f}}""")
      }

      // k-core arms at the 10x/100x tiers: the broadcast-hint peel
      // (alive set shipped to every executor, 2 semi-joins × rounds)
      // vs the message-form peel (ops/Connect.kcorePeelMsg — per-round
      // shuffle volume node-bounded, no broadcast) off plain parquet
      // and off a node-bucketed table (the adjacency side never
      // shuffles at all). The broadcast arm should win while the
      // alive set is comfortably broadcastable — the point of the
      // measurement is the SLOPE of each arm and where they cross;
      // SCALE.md records it. Edge derivation (the basket explode) is
      // prepped to parquet untimed — it is identical work for every
      // arm; the bucketed write is untimed layout investment.
      if (blockOn("kcore_arms")) locally {
        import graft.queries.Parity24
        def noopSave(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val ep = s"target/kc_edges_x$c"
            if (!Files.exists(Paths.get(ep)))
              Parity24.edges(spark, dir).write.mode("overwrite").parquet(ep)
            val pairs = spark.read.parquet(ep)
            val adj = pairs.select(col("u").as("node"), col("v").as("nbr"))
              .unionAll(pairs.select(col("v").as("node"), col("u").as("nbr")))
            val tbl = s"kc_adj_x$c"
            sources.Sinks.writeBucketed(adj, tbl, "node", 32)
            val bcast = best2(noopSave(Parity24.kcorePeel(pairs, 80, 6)))
            val msgPlain = best2(noopSave(ops.Connect.kcorePeelMsg(adj, 80, 6)))
            val msgBuck = best2(noopSave(ops.Connect.kcorePeelMsg(
              spark.table(tbl).select(col("node"), col("nbr")), 80, 6)))
            f""""x$c":{"broadcast_sec":$bcast%.2f,""" +
              f""""msg_plain_sec":$msgPlain%.2f,""" +
              f""""msg_bucketed_sec":$msgBuck%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"kcore_arms":{$js}}""")
      }

      // KMV k-minima cut (x6_kmv_poly's heavy stage) at the 10x/100x
      // tiers: the stock sort-window plan (InferWindowGroupLimit
      // pre-filters each partition to k but still sorts and numbers)
      // vs the bounded-heap TopKPerKeyExec (O(groups·k) live state,
      // no partition sort). Hashes event_id — replica-offset, so the
      // distinct input grows with the tier (user_id is shared across
      // replicas and would collapse under distinct); the estimator
      // shape is exactly the query's.
      if (blockOn("kmv_cut")) locally {
        val k = 64
        def kmvCut(dir: String, heap: Boolean): Unit = {
          val hashed = spark.read.parquet(s"$dir/events.parquet")
            .select(col("event_type"),
              ops.TextOps.polyHash60(col("event_id").cast("string")).as("h"))
            .distinct()
          val cut =
            if (heap) plans.TopKPerKey.topKPerKey(
              hashed, Seq("event_type"), Seq(("h", false)), k)
            else {
              import org.apache.spark.sql.expressions.Window
              val w = Window.partitionBy(col("event_type"))
                .orderBy(col("h").asc)
              hashed.withColumn("rn", row_number().over(w))
                .filter(col("rn") <= k).drop("rn")
            }
          cut.groupBy(col("event_type"))
            .agg(max(col("h")).as("hk"), count(lit(1)).as("n_min"))
            .write.format("noop").mode("overwrite").save()
        }
        def best2(dir: String, heap: Boolean): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); kmvCut(dir, heap)
            (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val kmv = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) => (c, best2(dir, heap = false), best2(dir, heap = true))
        }
        val js = kmv.map { case (c, w, h) =>
          f""""x$c":{"window_sec":$w%.2f,"heap_sec":$h%.2f,"ratio":${w / h}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"kmv_cut_k":$k,$js}""")
      }

      // Incremental near-dup: a FIXED ~1000-doc batch (the sf0.1 slice
      // with doc_id%10 >= 8) probed against a PRE-MATERIALIZED corpus
      // signature index (parquet, as persisted between daily runs), at
      // 1x and 10x corpus size — vs recomputing the full pair join and
      // filtering to batch-touching pairs. The claim under test is the
      // SHAPE, not a constant: full-recompute cost grows with the
      // corpus (it re-shingles and re-hashes everything), while the
      // probe's growth is only the index scan + equi-join. At a 4:1
      // corpus/batch ratio the probe does NOT win (measured 0.83x —
      // parquet-read of shingle sets costs more than re-shingling 4k
      // docs in-memory); the crossover needs the ratio a real ingest
      // loop has. (10x top tier only: replication clones every doc and
      // pair joins grow quadratically in clone multiplicity — same
      // artifact as x2_minhash_lsh's SkipAt100.)
      if (blockOn("mh_incr")) locally {
        def timed(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val n = f
          (n, (System.nanoTime() - t0) / 1e9)
        }
        def best2(f: => Long): (Long, Double) = {
          val a = timed(f); val b = timed(f)
          (a._1, math.min(a._2, b._2))
        }
        val tiersJs = Seq(1 -> tier(1), 10 -> tier(10)).map {
          case (c, dir) =>
            val docs = Tables.documents(spark, dir)
            // batch: original-id docs only, so it is IDENTICAL at every
            // tier; replicas (shifted ids) all land in the corpus side
            val isBatch = col("doc_id") < Offset && col("doc_id") % 10 >= 8
            val corpus = docs.filter(!isBatch)
            val batch = docs.filter(isBatch)
            val idxDir = s"target/mh_index_x$c"
            if (!Files.exists(Paths.get(s"$idxDir/bands.parquet"))) {
              val built = ops.Dedup.minhashIndex(corpus)
              built.bands.write.mode("overwrite")
                .parquet(s"$idxDir/bands.parquet")
              built.sets.write.mode("overwrite")
                .parquet(s"$idxDir/sets.parquet")
            }
            val idx = ops.Dedup.MinHashIndex(
              spark.read.parquet(s"$idxDir/bands.parquet"),
              spark.read.parquet(s"$idxDir/sets.parquet"))
            val (nIncr, incrSec) = best2 {
              ops.Dedup.minhashNearDupPairsIncremental(batch, idx).count()
            }
            val (nFull, fullSec) = best2 {
              ops.Dedup.minhashNearDupPairs(docs)
                .filter((col("id_a") < Offset && col("id_a") % 10 >= 8) ||
                  (col("id_b") < Offset && col("id_b") % 10 >= 8))
                .count()
            }
            require(nIncr == nFull,
              s"x$c: incremental pairs $nIncr != full restricted $nFull")
            f""""x$c":{"pairs":$nIncr,"incr_sec":$incrSec%.2f,""" +
              f""""full_sec":$fullSec%.2f,"speedup":${fullSec / incrSec}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"mh_incr":{$tiersJs}}""")
      }

      // Streaming-mode state evidence for the two transformWithState
      // operators: a REAL multi-batch run (AvailableNow, one file per
      // trigger, RocksDB provider) over the sf0.1 corpus split into 8
      // arrival batches, recording per-batch input rows, trigger wall
      // time, and total state-store rows. The claim under test: state
      // rows grow linearly with arrivals (TTL/cap are the production
      // bounds) while PER-BATCH time tracks the batch's own work — for
      // dedup the batch's key count, for near-dup the batch's bucket
      // collisions — not the accumulated corpus. The per-batch ms/row is
      // also the measured per-key state-store overhead that motivated
      // the occupancy prune in the x2_stream_neardup batch replay.
      if (blockOn("stream_state")) locally {
        import org.apache.spark.sql.streaming.Trigger
        val prevProvider =
          spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val nB = 8
          def stage(dir: String, df: DataFrame, splitCol: String): Unit =
            if (!Files.exists(Paths.get(dir))) (0 until nB).foreach { i =>
              df.filter(pmod(col(splitCol), lit(nB)) === i)
                .coalesce(1).write.mode("append").parquet(dir)
            }
          def drive(dir: String, ckp: String,
              mk: DataFrame => org.apache.spark.sql.Dataset[_]): String = {
            val schema = spark.read.parquet(dir).schema
            val stream = spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(dir)
            val q = mk(stream).writeStream.format("noop")
              .option("checkpointLocation", ckp)
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            q.recentProgress.toSeq
              .filter(_.numInputRows > 0)
              .map { p =>
                val st = p.stateOperators.headOption
                  .map(_.numRowsTotal).getOrElse(-1L)
                s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
                  s""""ms":${p.durationMs.get("triggerExecution")},""" +
                  s""""state_rows":$st}"""
              }.mkString("[", ",", "]")
          }
          val docs = Tables.documents(spark, src)
            .select(ops.TextOps.fingerprint(col("text")).as("key"),
              col("doc_id").cast("long").as("doc_id"), col("text"))
          stage("target/stream_docs", docs, "doc_id")
          val dedupJs = drive("target/stream_docs", "target/stream_docs_ckp",
            df => {
              import spark.implicits._
              streaming.StatefulDedup.dedup(
                df.as[streaming.StatefulDedup.Doc], java.time.Duration.ZERO)
            })
          val (bands, _) = ops.Dedup.polyBandsAndSets(Tables.documents(spark, src))
          stage("target/stream_bands",
            bands.select(col("bk").as("key"), col("id").as("doc_id")), "doc_id")
          val ndJs = drive("target/stream_bands", "target/stream_bands_ckp",
            df => {
              import spark.implicits._
              streaming.StatefulNearDup.candidates(
                df.as[streaming.StatefulNearDup.BandRow],
                java.time.Duration.ZERO)
            })
          System.err.println(
            s"""[scalebench] {"stream_state":{"dedup":$dedupJs,"neardup":$ndJs}}""")
        } finally {
          prevProvider match {
            case Some(p) => spark.conf
              .set("spark.sql.streaming.stateStore.providerClass", p)
            case None => spark.conf
              .unset("spark.sql.streaming.stateStore.providerClass")
          }
        }
      }

      // Materialized-adjacency arm for the x9 graph family: all 12
      // graph queries re-derive co-purchase edges from lineitem per
      // query (the basket explode + distinct). This block measures
      // the staging decision a 100 TB graph ETL makes: the one-time
      // cost of materializing the edge table to parquet vs the
      // per-query saving of reading it instead of re-deriving —
      // crossover_queries = materialize_sec / (derived − mat) is the
      // number of graph queries after which the staged table pays for
      // itself. kcorePeel (6 rounds) is the representative consumer;
      // the bucketed-layout variant of the same decision is measured
      // by kcore_arms above.
      if (blockOn("adj_arm")) locally {
        import graft.queries.Parity24
        def noopSave(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val ep = s"target/adj_edges_x$c"
            val t0 = System.nanoTime()
            Parity24.edges(spark, dir).write.mode("overwrite").parquet(ep)
            val matSec = (System.nanoTime() - t0) / 1e9
            val derived = best2(noopSave(
              Parity24.kcorePeel(Parity24.edges(spark, dir), 80, 6)))
            // plain parquet arm: every peel round re-plans from the
            // parquet relation, so the 120 M-edge scan is paid per
            // round — the apples-to-apples arm for an ITERATIVE
            // consumer reads once and lineage-truncates, exactly what
            // the derived path's edges() already does internally
            val mat = best2(noopSave(
              Parity24.kcorePeel(spark.read.parquet(ep), 80, 6)))
            val matCached = best2(noopSave(Parity24.kcorePeel(
              graft.ops.Iter.truncate(spark.read.parquet(ep), None),
              80, 6)))
            val saving = derived - math.min(mat, matCached)
            val cross =
              if (saving > 0) f"${matSec / saving}%.1f" else "null"
            f""""x$c":{"materialize_sec":$matSec%.2f,""" +
              f""""derived_query_sec":$derived%.2f,""" +
              f""""mat_query_sec":$mat%.2f,""" +
              f""""mat_cached_query_sec":$matCached%.2f,""" +
              f""""crossover_queries":$cross}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"adj_arm":{$js}}""")
      }

      // Versioned-table MERGE cost vs table size: commit the events
      // fact (100 k -> 1 M -> 10 M rows across tiers) as a table, then
      // MERGE a FIXED ~10 k-row update batch (original-id events only,
      // so the batch is identical at every tier). The honest claim
      // under test: full MERGE is a copy-on-write SNAPSHOT REWRITE
      // (anti-join + replace commit), so its cost grows with the
      // TABLE, not the batch — the measured slope is the argument for
      // the stats-pruned form (vtable_prune below). optimize() is
      // timed at the same sizes (same rewrite shape + the commit).
      if (blockOn("vtable_merge")) locally {
        import graft.sources.VersionedTable
        val js = Seq(1 -> tier(1), 10 -> tier(10),
          100 -> tier(100)).map { case (c, dir) =>
          val p = s"target/vt_ev_x$c"
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fs = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(fsp)) fs.delete(fsp, true)
          val ev = spark.read.parquet(s"$dir/events.parquet")
          val t0 = System.nanoTime()
          VersionedTable.commit(spark, p, ev, 0L)
          val buildSec = (System.nanoTime() - t0) / 1e9
          val updates = ev
            .filter(col("event_id") < Offset && col("event_id") % 10 === 7)
            .withColumn("event_type", concat(lit("v2_"), col("event_type")))
          val t1 = System.nanoTime()
          VersionedTable.merge(spark, p, updates, "event_id")
          val mergeSec = (System.nanoTime() - t1) / 1e9
          val t2 = System.nanoTime()
          VersionedTable.optimize(spark, p)
          val optSec = (System.nanoTime() - t2) / 1e9
          val nRows = VersionedTable.read(spark, p).get.count()
          f""""x$c":{"rows":$nRows,"build_sec":$buildSec%.2f,""" +
            f""""merge_sec":$mergeSec%.2f,"optimize_sec":$optSec%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"vtable_merge":{$js}}""")
      }

      // Stats-pruned vs full-rewrite MERGE on a KEY-CLUSTERED table:
      // each replica band of events is committed as its own group
      // with event_id [min,max] stats (the layout a range-partitioned
      // ingest produces — at 100x that is 100 groups × 100 k rows and
      // the v10/v20/... checkpoints consolidate the stats), then a
      // fixed ~10 k-row update batch confined to band 0 is merged
      // both ways. The claim under test: full merge rewrites the
      // TABLE (cost grows with the tier) while pruned merge rewrites
      // the ONE overlapping group (cost flat) — the Delta-style
      // file-skipping argument, measured.
      if (blockOn("vtable_prune")) locally {
        import graft.sources.VersionedTable
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val ev = spark.read.parquet(s"$dir/events.parquet")
            def build(p: String): Unit = {
              val fsp = new org.apache.hadoop.fs.Path(p)
              val fsx = fsp.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              if (fsx.exists(fsp)) fsx.delete(fsp, true)
              var v = 0L
              (0 until c).foreach { i =>
                v = VersionedTable.commit(spark, p,
                  ev.filter(col("event_id") >= i * Offset &&
                    col("event_id") < (i + 1) * Offset),
                  v, statsCol = Some("event_id"))
              }
            }
            val updates = ev
              .filter(col("event_id") < Offset && col("event_id") % 10 === 7)
              .withColumn("event_type", concat(lit("v2_"), col("event_type")))
            val pF = s"target/vtp_full_x$c"
            val pP = s"target/vtp_pruned_x$c"
            build(pF); build(pP)
            val t0 = System.nanoTime()
            VersionedTable.merge(spark, pF, updates, "event_id")
            val fullSec = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val (_, rewritten) =
              VersionedTable.mergePruned(spark, pP, updates, "event_id")
            val prunedSec = (System.nanoTime() - t1) / 1e9
            val nF = VersionedTable.read(spark, pF).get.count()
            val nP = VersionedTable.read(spark, pP).get.count()
            require(nF == nP, s"pruned rows $nP != full $nF")
            f""""x$c":{"groups":$c,"rewritten":$rewritten,""" +
              f""""full_sec":$fullSec%.2f,"pruned_sec":$prunedSec%.2f,""" +
              f""""speedup":${fullSec / prunedSec}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"vtable_prune":{$js}}""")
      }

      // Contended ingest on ONE table: W writers x A appends each,
      // optimistic concurrency. The naive loop re-stages the data
      // group on every lost race (O(W) stagings per commit under
      // contention -> O(W^2 * A) data writes fleet-wide); the
      // stage-once form (commitAppendWithRetry) re-publishes the
      // already-staged group, so a lost race costs one version
      // lookup + one log CAS. Append entries carry no snapshot
      // read-dependency, which is what makes the re-publish sound.
      if (blockOn("commit_contention")) locally {
        import graft.sources.VersionedTable
        val batch = spark.read.parquet(s"$src/events.parquet")
          .filter(col("event_id") < 20000)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .cache()
        val batchRows = batch.count()
        def clean(p: String): Unit = {
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fsx = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fsx.exists(fsp)) fsx.delete(fsp, true)
        }
        val appends = 4
        def run(writers: Int, stageOnce: Boolean): (Double, Long, Long) = {
          val p = s"target/ccont_${writers}_$stageOnce"
          clean(p)
          VersionedTable.commit(spark, p, batch.limit(1), 0L)
          val conflicts = new java.util.concurrent.atomic.AtomicLong(0)
          val stagings = new java.util.concurrent.atomic.AtomicLong(0)
          val barrier = new java.util.concurrent.CyclicBarrier(writers)
          val t0 = System.nanoTime()
          val threads = (0 until writers).map { _ =>
            new Thread(() => {
              barrier.await()
              (0 until appends).foreach { _ =>
                if (stageOnce) {
                  stagings.incrementAndGet()
                  val (_, lost) =
                    VersionedTable.commitAppendWithRetry(spark, p, batch)
                  conflicts.addAndGet(lost.toLong)
                } else {
                  var done = false
                  while (!done) {
                    stagings.incrementAndGet()
                    val v = VersionedTable.currentVersion(spark, p)
                    try {
                      VersionedTable.commit(spark, p, batch, v)
                      done = true
                    } catch {
                      case _: VersionedTable.CommitConflictException =>
                        conflicts.incrementAndGet()
                    }
                  }
                }
              }
            })
          }
          threads.foreach(_.start()); threads.foreach(_.join())
          val sec = (System.nanoTime() - t0) / 1e9
          // exactly-once: every append is exactly one version
          val vHead = VersionedTable.currentVersion(spark, p)
          require(vHead == 1 + writers * appends,
            s"lost/duplicated commits: head $vHead")
          val n = VersionedTable.read(spark, p).get.count()
          require(n == 1 + writers * appends * batchRows,
            s"content mismatch: $n rows")
          (sec, conflicts.get(), stagings.get())
        }
        val js = Seq(4, 16).map { w =>
          val (nSec, nConf, nStage) = run(w, stageOnce = false)
          val (oSec, oConf, oStage) = run(w, stageOnce = true)
          f""""w$w":{"writers":$w,"appends_per":$appends,""" +
            f""""naive_sec":$nSec%.2f,"once_sec":$oSec%.2f,""" +
            f""""naive_conflicts":$nConf,"once_conflicts":$oConf,""" +
            f""""naive_stagings":$nStage,"once_stagings":$oStage,""" +
            f""""speedup":${nSec / oSec}%.2f}"""
        }.mkString(",")
        batch.unpersist()
        System.err.println(s"""[scalebench] {"commit_contention":{$js}}""")
      }

      // List ranking arms at three chain lengths: pointer doubling
      // (ceil(log2 n) self-join rounds, every round a plain keyed
      // shuffle that distributes) vs the single-partition window
      // (rank = row_number over the WHOLE chain in ONE task — the
      // shape that cannot distribute). Locally the window's one
      // in-memory sort is hard to beat; the block prices how fast the
      // gap closes as n grows, because on a cluster the window arm is
      // bounded by ONE task's memory and the doubling arm by the
      // fleet.
      if (blockOn("list_rank")) locally {
        import spark.implicits._
        def planted(n: Long): DataFrame = {
          // one chain, label-shuffled so the structure is opaque:
          // position i (1-based) has node label bitrev-ish hash order;
          // succ(pos i) = label(pos i-1), root at pos 1
          val pos = spark.range(1, n + 1).select(
            col("id").as("p"),
            xxhash64(col("id")).as("label"))
          val links = pos.as("x")
            .join(pos.as("y"), col("x.p") === col("y.p") + 1, "left")
            .select(col("x.label").as("node"),
              coalesce(col("y.label"), col("x.label")).as("succ"))
          links
        }
        val js = Seq(100000L, 1000000L, 10000000L).map { n =>
          val links = planted(n).cache()
          links.count()
          val t0 = System.nanoTime()
          // cap -1: distributed Wyllie rounds (100 k would otherwise
          // finish in the single-task arm; `local_arm` prices that)
          val viaDouble = graft.ops.ListRank.ranks(links, None, 64, None, -1L)
            .agg(sum(col("rank"))).head().getLong(0)
          val dblSec = (System.nanoTime() - t0) / 1e9
          val tC = System.nanoTime()
          val viaContract = graft.ops.ListRank.ranksByContraction(links)
            .agg(sum(col("rank"))).head().getLong(0)
          val ctrSec = (System.nanoTime() - tC) / 1e9
          require(viaContract == viaDouble,
            s"contraction checksum mismatch: $viaContract vs $viaDouble")
          val t1 = System.nanoTime()
          // window arm: global order reconstructed from the pointer
          // relation is itself the hard part; give the window its
          // best case (order column already at hand) and STILL time it
          val viaWindow = spark.range(1, n + 1)
            .select((org.apache.spark.sql.functions.row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("id")))
              - 1).cast("long").as("r"))
            .agg(sum(col("r"))).head().getLong(0)
          val winSec = (System.nanoTime() - t1) / 1e9
          links.unpersist()
          require(viaDouble == viaWindow,
            s"rank checksum mismatch: $viaDouble vs $viaWindow")
          val rounds = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
          f""""n$n":{"rounds":$rounds,"double_sec":$dblSec%.2f,""" +
            f""""contract_sec":$ctrSec%.2f,"window_sec":$winSec%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"list_rank":{$js}}""")
      }

      // Change-feed file skipping, measured: diff two versions of a
      // many-group table where ONE group changed. skip=true reads the
      // two differing groups; skip=false full-outer-joins the whole
      // table against itself. The gap is the O(changed groups) vs
      // O(table) law that makes CDC off a 100 TB table readable.
      if (blockOn("feed_tiers")) locally {
        import graft.sources.VersionedTable
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val ev = spark.read.parquet(s"$dir/events.parquet")
              .select(col("event_id"), col("user_id"), col("event_type"))
            val p = s"target/feedt_x$c"
            val fsp = new org.apache.hadoop.fs.Path(p)
            val fsx = fsp.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fsx.exists(fsp)) fsx.delete(fsp, true)
            var v = 0L
            (0 until c).foreach { i =>
              v = VersionedTable.commit(spark, p,
                ev.filter(col("event_id") >= i * Offset &&
                  col("event_id") < (i + 1) * Offset),
                v, statsCol = Some("event_id"))
            }
            // one range-confined update batch -> one rewritten group
            val updates = ev
              .filter(col("event_id") < Offset && col("event_id") % 10 === 7)
              .withColumn("event_type", concat(lit("v2_"), col("event_type")))
            val (vTo, rewritten) =
              VersionedTable.mergePruned(spark, p, updates, "event_id")
            def timeFeed(skip: Boolean): (Double, Long) = {
              val t0 = System.nanoTime()
              val n = VersionedTable
                .changeFeed(spark, p, "event_id", v, vTo, skipShared = skip)
                .count()
              ((System.nanoTime() - t0) / 1e9, n)
            }
            val (skipSec, nSkip) = timeFeed(skip = true)
            val (fullSec, nFull) = timeFeed(skip = false)
            require(nSkip == nFull, s"skip changed the feed: $nSkip/$nFull")
            f""""x$c":{"groups":$c,"rewritten":$rewritten,""" +
              f""""changes":$nSkip,"skip_sec":$skipSec%.2f,""" +
              f""""full_sec":$fullSec%.2f,""" +
              f""""speedup":${fullSec / skipSec}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"feed_tiers":{$js}}""")
      }

      // SCC cost law: FW-BW min-label peeling is (diameter × n)-shaped
      // — fixpoint rounds track the component DIAMETER, not component
      // count or total size. Planted tiers grow n 100× while binary
      // chords hold every component's diameter at ≤ log2(ring size):
      // wall-clock should grow ~linearly with n (per-round join size)
      // plus the extra rounds of the mildly deeper rings.
      if (blockOn("scc_tiers")) locally {
        def planted(nGroups: Int, ringSz: Int): (DataFrame, DataFrame) = {
          val n = nGroups.toLong * ringSz
          val nodes = spark.range(0, n).select(col("id").as("v"))
          val g = col("v") % nGroups
          val r = expr(s"v DIV $nGroups") // 0..ringSz-1 within group
          val chords = Iterator.iterate(1)(_ * 2)
            .takeWhile(_ < ringSz).toSeq
          val edges = chords.map { step =>
            nodes.select(col("v").as("u"),
              (g + ((r + step) % ringSz) * nGroups).as("w"))
          }.reduce(_ unionByName _)
          (nodes, edges)
        }
        val js = Seq((16, 32), (16, 320), (160, 320)).map {
          case (ng, rs) =>
            val (nodes, edges) = planted(ng, rs)
            val t0 = System.nanoTime()
            val ids = graft.ops.Scc.components(nodes, edges, None, 64, -1L)
            val nScc = ids.select(col("scc_id")).distinct().count()
            val sec = (System.nanoTime() - t0) / 1e9
            require(nScc == ng, s"expected $ng components, got $nScc")
            f""""n${ng * rs}":{"groups":$ng,"ring":$rs,""" +
              f""""scc_sec":$sec%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"scc_tiers":{$js}}""")
      }

      // The fix for mm_phash_pairs' 100x duplicate-class artifact,
      // measured: raw image-level banded pairing (output quadratic in
      // duplicate-class size) vs the class-collapsed form (one
      // map-side-combined groupBy on the hash, then band-join the
      // ≤ distinct-hash-count representatives). Both arms include the
      // decode+hash map stage, so the delta is purely the pairing
      // strategy.
      if (blockOn("phash_class")) locally {
        def noopSave(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            def hashes = ops.Multimodal.decodeDHash(spark,
              ops.Multimodal.synthVariantImages(spark,
                Tables.documents(spark, dir)))
            val naive = best2(noopSave(
              ops.Multimodal.phashNearDupPairs(hashes)))
            val byClass = best2(noopSave(
              ops.Multimodal.phashClassPairs(hashes)))
            f""""x$c":{"naive_sec":$naive%.2f,""" +
              f""""class_sec":$byClass%.2f,""" +
              f""""speedup":${naive / byClass}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"phash_class":{$js}}""")
      }

      // Iterative-rank exchange arms (round-12 verdict item 4): the
      // broadcast arm ships the node-sized score/label vector to every
      // executor each round; the message arm pre-partitions the edges
      // once and shuffles only the vector (ops/Exchange). Both arms of
      // all three operators (pagerank / LPA / HITS) at the 10x and
      // 100x tiers — the broadcast arm should win while the vector
      // broadcasts comfortably (it does at every tier this sandbox can
      // hold: ~10^4..10^6 nodes); the message arm's value is the SLOPE
      // (node-bounded shuffle, no vector fan-out), which takes over at
      // billions of nodes where the broadcast arm simply cannot run.
      // Mirrors the kcore_arms block; SCALE.md records the crossover
      // reasoning.
      if (blockOn("rank_arms")) locally {
        def best2(f: => DataFrame): Double = {
          def once: Double = {
            val t0 = System.nanoTime()
            f.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        // x9_pagerank now ROUTES through the advisor (round-13
        // verdict item 4), so the fixed arms are addressed directly —
        // the named query would silently measure whichever arm the
        // advisor picks at the tier
        val arms: Seq[(String, (String, Boolean) => DataFrame)] = Seq(
          ("x9_pagerank",
            (dir, msg) => graft.queries.Parity19.pagerankQ(spark, dir, msg)),
          ("x9_label_prop",
            (dir, msg) => SparkEntry.queries(
              if (msg) "x9_label_prop_msg" else "x9_label_prop")(spark, dir)),
          ("x9_hits",
            (dir, msg) => SparkEntry.queries(
              if (msg) "x9_hits_msg" else "x9_hits")(spark, dir)))
        val js = arms.map { case (op, mk) =>
          val parts = Seq(10 -> tier(10), 100 -> tier(100)).map {
            case (c, dir) =>
              val b = best2(mk(dir, false))
              val m = best2(mk(dir, true))
              f""""x$c":{"broadcast_sec":$b%.2f,"msg_sec":$m%.2f,""" +
                f""""msg_over_broadcast":${m / b}%.2f}"""
          }.mkString(",")
          s""""$op":{$parts}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"rank_arms":{$js}}""")
      }

      // Rank-arm advisor (round-13 verdict item 4, "broadcast until
      // it breaks" made executable): at each tier, the advisor's
      // oracle row must pick the arm the rank_arms measurements say
      // wins — broadcast at 1x (~16 k nodes, 0.4 MB vector), msg
      // from 10x up (≥160 k nodes, ≥3.8 MB vector, past the measured
      // crossover). The require() IS the claim; routed_sec times
      // x9_pagerank as shipped (advisor choice in effect).
      if (blockOn("rank_advisor")) locally {
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(1 -> tier(1), 10 -> tier(10),
          100 -> tier(100)).map { case (c, dir) =>
          val row = SparkEntry.queries("x9_rank_advisor")(spark, dir).head()
          val nodes = row.getAs[Long]("n_nodes_est")
          val arm = row.getAs[String]("arm")
          val expect = if (c == 1) "broadcast" else "msg"
          require(arm == expect,
            s"advisor picked $arm at x$c ($nodes nodes); measured " +
              s"rank_arms crossover says $expect")
          val routed = best2(
            SparkEntry.queries("x9_pagerank")(spark, dir)
              .write.format("noop").mode("overwrite").save())
          f""""x$c":{"nodes_est":$nodes,"arm":"$arm",""" +
            f""""routed_sec":$routed%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"rank_advisor":{$js}}""")
      }

      // Schema-merge planning cost (round-14, the s16/s17 companion
      // measurement): mergeSchema reads EVERY file footer at plan
      // time, the default reads ONE, a caller-pinned schema reads
      // NONE. The knob is FILE COUNT, not data volume — the same
      // 1 M-row fact staged at 500 vs 4000 files isolates the law.
      // 100 TB reading: a 10^5-file table pays a full footer sweep
      // per mergeSchema query; evolution reconciles ONCE at commit
      // (s16/s17) and the CATALOG owns the schema thereafter.
      if (blockOn("schema_merge_cost")) locally {
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val ev = spark.read.parquet(s"${tier(10)}/events.parquet")
        val pinned = ev.schema
        val js = Seq(500, 4000).map { nf =>
          val p = s"target/smc_$nf"
          // _SUCCESS probe, not bare-dir existence: a run killed
          // mid-write must restage, or the block times the wrong
          // file count — the very variable it measures
          if (!Files.exists(Paths.get(s"$p/_SUCCESS")))
            ev.repartition(nf).write.mode("overwrite").parquet(p)
          // .schema forces inference WITHOUT scanning data — the
          // probe isolates plan-time footer I/O from the (identical)
          // scan cost all three arms would share
          val dflt = best2(spark.read.parquet(p).schema)
          val merged = best2(
            spark.read.option("mergeSchema", "true").parquet(p).schema)
          val pin = best2(spark.read.schema(pinned).parquet(p).schema)
          f""""files$nf":{"default_sec":$dflt%.2f,"merge_sec":$merged%.2f,""" +
            f""""pinned_sec":$pin%.2f,"merge_over_pinned":${merged / pin}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"schema_merge_cost":{$js}}""")
      }

      // Skew-join arms (round-14): the one scale lever claimed all
      // over SCALE.md but never measured. A planted hot key (every
      // 3rd event remapped to one user -> ~1/3 of the fact in ONE
      // shuffle partition) joined to a per-user dim forced to
      // sort-merge (the 100 TB shape — dims don't broadcast there),
      // three ways: no mitigation (AQE skew split OFF), AQE skew
      // split ON (thresholds lowered to sandbox scale: the defaults
      // trigger at 256 MB partitions, the knob a real cluster tunes
      // the same way), and the explicit Skew.saltedJoin (the tool
      // when AQE is unavailable — streaming joins — or the hot key
      // beats even split partitions). require() pins all three arms
      // to the same aggregate — mitigation must never change results.
      if (blockOn("skew_arms")) locally {
        def best2(f: => Long): (Long, Double) = {
          def once: (Long, Double) = {
            val t0 = System.nanoTime(); val s = f
            (s, (System.nanoTime() - t0) / 1e9)
          }
          val a = once; val b = once
          (a._1, math.min(a._2, b._2))
        }
        def withConf(kv: (String, String)*)(body: => (Long, Double))
            : (Long, Double) = {
          val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
          kv.foreach { case (k, v) => spark.conf.set(k, v) }
          try body finally prev.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
        }
        // thresholds scaled to the sandbox (defaults trigger at
        // 256 MB): advisory sets the SPLIT GRANULARITY — it is the
        // AQE-side analog of the salt factor, and the first run of
        // this block measured exactly that (8 MB advisory -> ~3
        // splits -> 1.13x, while salt=16 -> 1.67x; at 2 MB the two
        // arms get comparable parallelism)
        val tuned = Seq(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            -> "8m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m")
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val left = spark.read.parquet(s"$dir/events.parquet")
              .select(when(col("event_id") % 3 === 0, lit(42L))
                .otherwise(col("user_id")).as("k"),
                (col("event_id") % 97).as("v"))
            // the dim must be TABLE-BACKED (untimed write, read back):
            // OptimizeSkewedJoin's pattern requires both SMJ children
            // to be Sort-over-bare-ShuffleQueryStage — deriving the
            // dim in-query (distinct) leaves its final HashAggregate
            // between the sort and the stage and the rule NEVER
            // fires, force flag or not (found by plan dump; the
            // debug log confirms "split it into 16 parts" only on
            // this form). Real dims are tables; a derived build side
            // needs materialization for AQE skew handling to apply.
            // rewritten EVERY run (cheap, untimed): an existence guard
            // would let a stale dim survive a regenerated events tier
            // and silently shrink the measured join
            val dimPath = s"target/skew_dim_x$c"
            left.select(col("k")).distinct()
              .select(col("k"), (col("k") % 7 + 1).as("w"))
              .write.mode("overwrite").parquet(dimPath)
            val dim = spark.read.parquet(dimPath)
            def sumJoin(salted: Boolean): Long = {
              val j =
                if (salted) graft.ops.Skew.saltedJoin(left,
                  dim.hint("merge"), "k", salt = 16)
                else left.join(dim.hint("merge"), Seq("k"))
              j.agg(sum(col("v") * col("w"))).head().getLong(0)
            }
            val (sPlain, tPlain) = withConf(tuned :+
              ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*)(
              best2(sumJoin(salted = false)))
            val (sAqe, tAqe) = withConf(tuned :+
              ("spark.sql.adaptive.skewJoin.enabled" -> "true"): _*)(
              best2(sumJoin(salted = false)))
            val (sSalt, tSalt) = withConf(tuned :+
              ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*)(
              best2(sumJoin(salted = true)))
            require(sPlain == sAqe && sAqe == sSalt,
              s"skew mitigation changed results: $sPlain/$sAqe/$sSalt")
            f""""x$c":{"no_mitigation_sec":$tPlain%.2f,""" +
              f""""aqe_split_sec":$tAqe%.2f,"salted_sec":$tSalt%.2f,""" +
              f""""aqe_speedup":${tPlain / tAqe}%.2f,""" +
              f""""salt_speedup":${tPlain / tSalt}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"skew_arms":{$js}}""")
      }

      // Parquet-native bloom filters vs the other skipping layers
      // (round-13 verdict item 6): the SAME events fact written three
      // ways — plain (row-group min/max stats only, random layout so
      // they span everything), with footer blooms on event_id
      // (parquet.bloom.filter.enabled#event_id), and range-sorted on
      // event_id (the zone-map layout: min/max stats become tight).
      // Probed with 8 PRESENT point keys and 8 ABSENT-but-in-range
      // keys (between replica bands, so table-level stats cannot
      // help and per-group stats only help the sorted layout).
      // Layout is a write-time investment, not semantics — no oracle
      // row; SCALE.md records which layer a 100 TB table should own.
      if (blockOn("bloom_layers")) locally {
        // skipping only matters when there are many skippable units
        // and a miss costs real decode: row groups are sized small
        // (256 KiB ≈ the x100 tier's thousands-of-groups shape a real
        // 100 TB table has at 128 MiB groups) and the probe
        // materializes FULL rows, so a non-skipped group pays all
        // five columns while a skipped one pays a footer check
        val RowGroupBytes = 256 * 1024
        def best2(f: => Unit): Double = {
          def once: Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val ev = spark.read.parquet(s"$dir/events.parquet")
            val rowsPerGroup = 6000L // ~256 KiB of events rows
            def writeTimed(p: String)(w: => Unit): Double = {
              if (Files.exists(Paths.get(p))) return -1.0
              val t0 = System.nanoTime(); w
              (System.nanoTime() - t0) / 1e9
            }
            val plainP = s"target/bl_plain_x$c"
            val wPlain = writeTimed(plainP) {
              ev.repartition(32).write
                .option("parquet.block.size", RowGroupBytes)
                .parquet(plainP)
            }
            val bloomP = s"target/bl_bloom_x$c"
            val wBloom = writeTimed(bloomP) {
              ev.repartition(32).write
                .option("parquet.block.size", RowGroupBytes)
                .option("parquet.bloom.filter.enabled#event_id", "true")
                .option("parquet.bloom.filter.expected.ndv#event_id",
                  rowsPerGroup.toString)
                .parquet(bloomP)
            }
            val zoneP = s"target/bl_zone_x$c"
            val wZone = writeTimed(zoneP) {
              ev.repartitionByRange(32, col("event_id"))
                .sortWithinPartitions(col("event_id"))
                .write.option("parquet.block.size", RowGroupBytes)
                .parquet(zoneP)
            }
            val present = (0 until math.min(c, 8))
              .map(i => i * Offset + 12345L)
            val absent = (0 until 8).map(i => 50000000L + i)
            def probe(p: String, keys: Seq[Long]): Double = best2 {
              // full-row materialization: a non-skipped row group
              // decodes every column, a skipped one costs its footer
              spark.read.parquet(p)
                .filter(col("event_id").isin(keys: _*))
                .write.format("noop").mode("overwrite").save()
            }
            val parts = Seq("plain" -> plainP, "bloom" -> bloomP,
              "zone" -> zoneP).map { case (tag, p) =>
              f""""$tag":{"present_sec":${probe(p, present)}%.3f,""" +
                f""""absent_sec":${probe(p, absent)}%.3f}"""
            }.mkString(",")
            f""""x$c":{"write_plain_sec":$wPlain%.1f,""" +
              f""""write_bloom_sec":$wBloom%.1f,""" +
              f""""write_zone_sec":$wZone%.1f,$parts}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"bloom_layers":{$js}}""")
      }

      // Sampled-source harmonic centrality (round-13 verdict item 2):
      // tier rows at the shipped knobs (depth 2, 1/512 sample) plus
      // the full knob grid at the 1x tier. The claims under require():
      // (a) per-source state is REPLICA-bounded — key-offset replicas
      // are disjoint, so max n_reached is IDENTICAL at every tier and
      // total state rows grow only with the source count; (b) the
      // source sample tracks 1/512 of a growing node universe, so
      // sources (and with them cost) grow ~linearly with the tier.
      // The knob grid prices the two levers: sample rate is ~linear
      // (4x the sources = ~4x the per-source BFSes), depth is NOT —
      // the last hop dominates (round r's join volume is
      // sum_{frontier_r} deg(v), and the depth-2 frontier already
      // spans most of a replica).
      if (blockOn("harmonic")) locally {
        import graft.queries.Parity64
        def statsRun(dir: String, depth: Int, hex: String)
            : (Double, Long, Long, Long) = {
          val t0 = System.nanoTime()
          val r = Parity64.harmonicRun(spark, dir, depth, hex)
            .agg(count(lit(1)).as("n_src"),
              sum(col("n_reached")).as("reached"),
              max(col("n_reached")).as("max_reach")).head()
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, r.getLong(0), r.getLong(1) + r.getLong(0), r.getLong(2))
        }
        def best2(dir: String, depth: Int, hex: String)
            : (Double, Long, Long, Long) = {
          val a = statsRun(dir, depth, hex)
          val b = statsRun(dir, depth, hex)
          if (a._1 <= b._1) a else b
        }
        // tier rows (defaults): min-of-2 at 1x/10x, single at 100x
        val t1 = best2(tier(1), 2, "007")
        val t10 = best2(tier(10), 2, "007")
        val t100 = statsRun(tier(100), 2, "007")
        // replicas are DISJOINT, so no source can ever reach outside
        // its own replica: per-source state is bounded by one
        // replica's node universe (<= its part count) at EVERY tier —
        // total state grows only with the source count, never with
        // reach-per-source. (Max reach still CLIMBS a little with the
        // tier: 10x the sources sample the per-source reach
        // distribution 10x more often.)
        val replicaNodes =
          spark.read.parquet(s"${tier(1)}/part.parquet").count()
        require(t1._4 <= replicaNodes && t10._4 <= replicaNodes &&
          t100._4 <= replicaNodes,
          s"per-source reach must be replica-bounded (<= $replicaNodes " +
            s"nodes): ${t1._4} / ${t10._4} / ${t100._4}")
        require(t10._2 >= 8 * t1._2 && t100._2 >= 8 * t10._2,
          s"the 1/512 sample must track the growing node universe: " +
            s"sources ${t1._2} / ${t10._2} / ${t100._2}")
        // knob grid at 1x: sample {1/512, 1/128} x depth {2, 3}
        val grid = for {
          (dTag, depth) <- Seq("d2" -> 2, "d3" -> 3)
          (sTag, hex) <- Seq("s512" -> "007", "s128" -> "01f")
        } yield {
          val g = best2(tier(1), depth, hex)
          f""""${dTag}_$sTag":{"sec":${g._1}%.2f,"sources":${g._2},""" +
            f""""state_rows":${g._3},"max_reach":${g._4}}"""
        }
        def js(t: (Double, Long, Long, Long)): String =
          f"""{"sec":${t._1}%.2f,"sources":${t._2},""" +
            f""""state_rows":${t._3},"max_reach":${t._4}}"""
        System.err.println(
          s"""[scalebench] {"harmonic":{"x1":${js(t1)},"x10":${js(t10)},""" +
            s""""x100":${js(t100)},${grid.mkString(",")}}}""")
      }

      // Harmonic frontier-exchange arms (round-16 verdict item 7):
      // the hop-bounded ops now route through the rank-arm advisor
      // like pagerank/mis — this block prices both FORCED arms so the
      // routing is a measured verdict, not a guess. The broadcast arm
      // re-ships the (src, node) frontier into the adjacency every
      // hop; the msg arm pre-partitions + caches the adjacency once
      // and shuffles only the frontier. Structural require pins the
      // arms bit-equal on (sources, total harm).
      if (blockOn("harmonic_arms")) locally {
        import graft.queries.Parity64
        def armRun(dir: String, msg: Boolean): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val r = Parity64.harmonicRun(spark, dir, 2, "007",
              msgOverride = Some(msg))
            .agg(count(lit(1)), sum(col("harm_milli"))).head()
          ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
        }
        def best2(dir: String, msg: Boolean): (Double, Long, Long) = {
          val a = armRun(dir, msg); val b = armRun(dir, msg)
          if (a._1 <= b._1) a else b
        }
        val parts = Seq(
          (10, tier(10), true), (100, tier(100), false)).map {
          case (c, dir, twice) =>
            val b = if (twice) best2(dir, msg = false)
              else armRun(dir, msg = false)
            val m = if (twice) best2(dir, msg = true)
              else armRun(dir, msg = true)
            require(b._2 == m._2 && b._3 == m._3,
              s"arms disagree at x$c: broadcast ${b._2}/${b._3} vs " +
                s"msg ${m._2}/${m._3}")
            f""""x$c":{"broadcast_sec":${b._1}%.2f,"msg_sec":${m._1}%.2f,""" +
              f""""msg_over_broadcast":${m._1 / b._1}%.2f,""" +
              f""""sources":${b._2},"harm_milli":${b._3}}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"harmonic_arms":{$parts}}""")
      }

      // Multi-column stats write cost (round-16 verdict item 5): the
      // per-group stats grew from one key [min,max] to up to 8 extra
      // columns, all computed in ONE agg over the just-written group
      // — this block prices that. Arms at equal row counts: `wide` (a
      // key + 8 stats-eligible long columns — the full 8-column agg)
      // vs `text` (a key + one string payload of comparable bytes —
      // strings are stats-ineligible, so only the key agg runs). The
      // law to read: commit cost is write-dominated and near-linear
      // in rows; the extra stats columns ride the same single scan.
      if (blockOn("xstats_write")) locally {
        import graft.sources.VersionedTable
        def commitOnce(df: DataFrame, tag: String): Double = {
          val p = java.nio.file.Files
            .createTempDirectory(s"xstats$tag").toString
          val t0 = System.nanoTime()
          VersionedTable.commit(spark, p, df, 0L, statsCol = Some("k"))
          (System.nanoTime() - t0) / 1e9
        }
        def wide(rows: Long) = spark.range(rows).toDF("k")
          .select(col("k") +: (1 to 8).map(i =>
            (col("k") * i).as(s"c$i")): _*)
        def text(rows: Long) = spark.range(rows).toDF("k")
          .withColumn("payload",
            concat_ws("-", (1 to 8).map(i =>
              (col("k") * i).cast("string")): _*))
        def best2(mk: Long => DataFrame, rows: Long,
            tag: String): Double = {
          val a = commitOnce(mk(rows), tag)
          val b = commitOnce(mk(rows), tag)
          math.min(a, b)
        }
        val parts = Seq(1000000L -> "x1", 10000000L -> "x10").map {
          case (rows, t) =>
            val w = best2(wide, rows, s"w$t")
            val s0 = best2(text, rows, s"t$t")
            f""""$t":{"wide8_sec":$w%.2f,"text0_sec":$s0%.2f,""" +
              f""""stats_overhead":${w / s0}%.2f,"rows":$rows}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"xstats_write":{$parts}}""")
      }

      // HITS edge-copy arms (round-13 verdict item 3): the msg form
      // keeps TWO cached co-partitioned edge copies because its two
      // half-steps join on different keys (forward+reverse adjacency,
      // the Pregel layout). The one-copy alternative keeps only the
      // c-partitioned cache and lets the authority→hub half-step
      // reshuffle the EDGES to the p key every round — per-round
      // exchange volume goes from node-bounded to edge-sized. Both
      // arms vs the broadcast twin at 10x/100x; bit-equal results by
      // construction (same arithmetic, same oracle).
      if (blockOn("hits_copies")) locally {
        import graft.queries.Parity39
        def best2(f: => DataFrame): Double = {
          def once: Double = {
            val t0 = System.nanoTime()
            f.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          math.min(once, once)
        }
        val js = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val b = best2(Parity39.hitsQ(spark, dir, msg = false))
            val two = best2(Parity39.hitsQ(spark, dir, msg = true))
            val one = best2(Parity39.hitsQ(spark, dir, msg = true,
              oneCopy = true))
            f""""x$c":{"broadcast_sec":$b%.2f,"two_copy_sec":$two%.2f,""" +
              f""""one_copy_sec":$one%.2f,""" +
              f""""one_over_two":${one / two}%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"hits_copies":{$js}}""")
      }

      // Wedge hub cap (round-12 verdict item 3): plant a mega-hub —
      // one center adjacent to `hub` sampled nodes — on top of a
      // linear background (disjoint 3-node paths through ordinary
      // centers). Uncapped, the hub ALONE contributes C(hub, 2) wedge
      // pairs (quadratic in hub degree: 2k → ~2.0 M, 8k → ~32 M —
      // 16× from 4× degree); capped at d_max the hub is dropped and
      // the candidate stream is exactly the background's one pair per
      // path, whatever the hub degree. Both counts and times are
      // emitted; the count assert IS the bound claim.
      if (blockOn("wedge_cap")) locally {
        import spark.implicits._
        import graft.queries.Parity25
        def planted(hub: Int, paths: Int): DataFrame = {
          // hub center 0 sees nodes 1..hub; background path i has
          // endpoints (E+2i, E+2i+1) sharing private center -(i+1)
          val hubAdj = (1 to hub).map(i => (i.toLong, 0L))
          val base = 1000000L
          val bg = (0 until paths).flatMap { i =>
            val c = -(i + 1).toLong
            Seq((base + 2 * i, c), (base + 2 * i + 1, c))
          }
          (hubAdj ++ bg).toDF("node", "nb")
        }
        def run(hub: Int, paths: Int, dMax: Option[Long]): (Long, Double) = {
          val t0 = System.nanoTime()
          val n = Parity25.wedgePairs(planted(hub, paths), dMax).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        val js = Seq(2000, 8000).map { hub =>
          val paths = 1000
          val (nUncap, tUncap) = run(hub, paths, None)
          val (nCap, tCap) = run(hub, paths, Some(64L))
          val expUncap = hub.toLong * (hub - 1) / 2 + paths
          require(nUncap == expUncap && nCap == paths.toLong,
            s"wedge bound violated: uncapped $nUncap (want $expUncap), " +
              s"capped $nCap (want $paths)")
          f""""hub$hub":{"uncapped_pairs":$nUncap,"capped_pairs":$nCap,""" +
            f""""uncapped_sec":$tUncap%.2f,"capped_sec":$tCap%.2f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"wedge_cap":{$js}}""")
      }

      // Record-linkage blocking granularity (round-14 batch 7): with
      // a FIXED band width, block sizes grow with record density and
      // candidate pairs grow quadratically (Σ C(block, 2)); scaling
      // the width ∝ 1/n pins the expected block size and keeps the
      // candidate stream linear — the knob a 100 TB dedup must turn.
      // Planted uniform-balance fixtures (not replicated customer:
      // key-offset replication clones every balance value, the
      // documented pair-join clone artifact). The count asserts ARE
      // the law; times are context.
      if (blockOn("linkage_bands")) locally {
        import graft.queries.Parity73
        def recs(n: Long): DataFrame =
          spark.range(n).select(
            col("id").as("rec_id"),
            (col("id") % 25).cast("int").as("nat"),
            (((col("id") * 2654435761L) % 1000000L).cast("double") / 100.0)
              .as("bal"))
        def run(n: Long, width: Double): (Long, Double) = {
          val t0 = System.nanoTime()
          val c = Parity73.candidatePairs(recs(n), width).count()
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val sizes = Seq(30000L, 300000L)
        val js = Seq("fixed" -> ((n: Long) => 100.0),
          "scaled" -> ((n: Long) => 10000.0 * 250.0 / n)).map {
          case (tag, widthOf) =>
            val pts = sizes.map(n => (n, run(n, widthOf(n))))
            val r10 =
              pts(1)._2._1.toDouble / math.max(1L, pts(0)._2._1)
            val body = pts.map { case (n, (c, sec)) =>
              f""""n$n":{"pairs":$c,"sec":$sec%.2f}"""
            }.mkString(",")
            (tag, r10, s""""$tag":{$body,"pair_r10":${f"$r10%.1f"}}""")
        }
        val (fixedR10, scaledR10) = (js(0)._2, js(1)._2)
        require(fixedR10 > 50.0,
          s"fixed-width bands should go ~quadratic at 10x density " +
            s"(pair growth $fixedR10)")
        require(scaledR10 < 20.0,
          s"density-scaled bands should stay ~linear (pair growth " +
            s"$scaledR10)")
        System.err.println(
          s"""[scalebench] {"linkage_bands":{${js.map(_._3).mkString(",")}}}""")
      }

      // Betweenness tiers (round-14 batch 9): same replica-disjoint
      // argument as harmonic — a source's L1/L2 state is bounded by
      // its own replica's node universe at every tier, so total state
      // grows only with the 1/512 source sample. The require pins
      // both: per-source reach replica-bounded, sources tracking the
      // universe.
      if (blockOn("betweenness_tiers")) locally {
        def run(dir: String): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries("x9_betweenness")(spark, dir)
          val r = df.agg(count(lit(1)), max(col("n_paths"))).head()
          ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
        }
        def best2(dir: String): (Double, Long, Long) = {
          val a = run(dir); val b = run(dir)
          if (a._1 <= b._1) a else b
        }
        val t1 = best2(tier(1))
        val t10 = best2(tier(10))
        val t100 = run(tier(100))
        // interior nodes are replica-local, so the scored-node count
        // must track the tier like the seeds do
        require(t10._2 >= 8 * t1._2 && t100._2 >= 8 * t10._2,
          s"scored interior nodes must track the node universe: " +
            s"${t1._2} / ${t10._2} / ${t100._2}")
        def js(t: (Double, Long, Long)): String =
          f"""{"sec":${t._1}%.2f,"nodes":${t._2},"max_paths":${t._3}}"""
        System.err.println(
          s"""[scalebench] {"betweenness_tiers":{"x1":${js(t1)},""" +
            s""""x10":${js(t10)},"x100":${js(t100)},""" +
            f""""r10":${t10._1 / t1._1}%.2f,"r100":${t100._1 / t10._1}%.2f}}""")
      }

      // Random-walk tiers (round-14 batch 7): replicas are disjoint
      // graphs, the 1/64 md5 seed sample tracks the node universe, a
      // walk never leaves its replica — so walk count, adjacency
      // build, and per-step frontier⋈adjacency join all grow
      // linearly with the tier. Trajectory rows = (steps+1) × walks
      // exactly (every co-purchase node has a neighbor, so no walk
      // dies early) — the require pins both laws.
      if (blockOn("walk_tiers")) locally {
        def run(dir: String): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries("x9_random_walk")(spark, dir)
          val r = df.agg(count(lit(1)),
            countDistinct(col("walk"))).head()
          ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
        }
        def best2(dir: String): (Double, Long, Long) = {
          val a = run(dir); val b = run(dir)
          if (a._1 <= b._1) a else b
        }
        val t1 = best2(tier(1))
        val t10 = best2(tier(10))
        val t100 = run(tier(100))
        Seq(t1, t10, t100).foreach { t =>
          require(t._2 == 5 * t._3,
            s"every walk must run the full 4 steps: rows ${t._2} vs " +
              s"walks ${t._3}")
        }
        require(t10._3 >= 8 * t1._3 && t100._3 >= 8 * t10._3,
          s"the 1/64 seed sample must track the node universe: walks " +
            s"${t1._3} / ${t10._3} / ${t100._3}")
        def js(t: (Double, Long, Long)): String =
          f"""{"sec":${t._1}%.2f,"walks":${t._3}}"""
        System.err.println(
          s"""[scalebench] {"walk_tiers":{"x1":${js(t1)},""" +
            s""""x10":${js(t10)},"x100":${js(t100)},""" +
            f""""r10":${t10._1 / t1._1}%.2f,"r100":${t100._1 / t10._1}%.2f}}""")
      }

      // MERGE-vs-append contention (round-14 batch 11): the race a
      // 100 TB table lives in — a range-confined MERGE running while
      // append-ingest lands elsewhere in the keyspace. The naive arm
      // re-derives (re-read + re-stage the touched group) on every
      // lost CAS; the rebase arm folds the disjoint appends into its
      // replace entry and re-publishes — one staging ever. Appenders
      // run a FIXED stream so the naive arm terminates; the requires
      // pin exactly-once content on both arms and the one-staging
      // property of the rebase arm.
      if (blockOn("merge_rebase")) locally {
        import graft.sources.VersionedTable
        def clean(p: String): Unit = {
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fsx = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fsx.exists(fsp)) fsx.delete(fsp, true)
        }
        val appWriters = 4
        val appEach = 6
        val baseN = 200000L
        def run(rebase: Boolean): (Double, Long, Long) = {
          val p = s"target/mrebase_$rebase"
          clean(p)
          var v = 0L
          (0L until 4L).foreach { i =>
            v = VersionedTable.commit(spark, p,
              spark.range(i * baseN / 4, (i + 1) * baseN / 4)
                .select(col("id").as("k"), (col("id") * 3).as("pay")),
              v, statsCol = Some("k"))
          }
          val updates = spark.range(0L, 25000L)
            .select(col("id").as("k"), (col("id") * 3 + 7).as("pay"))
          val stagings = new java.util.concurrent.atomic.AtomicLong(0)
          val retries = new java.util.concurrent.atomic.AtomicLong(0)
          val errs =
            new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
          val barrier = new java.util.concurrent.CyclicBarrier(appWriters + 1)
          val appenders = (0 until appWriters).map { i =>
            new Thread(() => {
              try {
                barrier.await()
                (0 until appEach).foreach { j =>
                  VersionedTable.commitAppendWithRetry(spark, p,
                    spark.range(1).select(
                      lit(10000000L + i * 100000L + j).as("k"),
                      lit(1L).as("pay")),
                    statsCol = Some("k"))
                }
              } catch { case t: Throwable => errs.add(t) }
            })
          }
          appenders.foreach(_.start())
          barrier.await()
          val t0 = System.nanoTime()
          if (rebase) {
            // every interloper append can cost one rebase, so the cap
            // must cover the full appender workload (4 writers x 6
            // appends can interleave one-per-retry = 24 rebases)
            val (_, _, rb) =
              VersionedTable.mergePrunedRebase(spark, p, updates, "k",
                maxRebases = appWriters * appEach + 8)
            stagings.incrementAndGet(); retries.set(rb.toLong)
          } else {
            var done = false
            while (!done) {
              stagings.incrementAndGet()
              try {
                VersionedTable.mergePruned(spark, p, updates, "k")
                done = true
              } catch {
                case _: VersionedTable.CommitConflictException =>
                  retries.incrementAndGet()
              }
            }
          }
          val sec = (System.nanoTime() - t0) / 1e9
          appenders.foreach(_.join(120000))
          require(errs.isEmpty, s"appender failures: $errs")
          val got = VersionedTable.read(spark, p).get
            .agg(count(lit(1)), sum(col("pay"))).head()
          val wantN = baseN + appWriters * appEach
          val wantSum = (0L until baseN).map(_ * 3).sum + 7L * 25000L +
            appWriters * appEach
          require(got.getLong(0) == wantN && got.getLong(1) == wantSum,
            s"content mismatch: ${got.getLong(0)}/$wantN rows, " +
              s"${got.getLong(1)}/$wantSum sum")
          if (rebase) require(stagings.get() == 1,
            "rebase arm must stage exactly once")
          (sec, stagings.get(), retries.get())
        }
        val (nSec, nStage, nRetry) = run(rebase = false)
        val (rSec, rStage, rRetry) = run(rebase = true)
        System.err.println(
          s"""[scalebench] {"merge_rebase":{""" +
            f""""naive":{"sec":$nSec%.2f,"stagings":$nStage,"retries":$nRetry},""" +
            f""""rebase":{"sec":$rSec%.2f,"stagings":$rStage,"rebases":$rRetry},""" +
            f""""speedup":${nSec / rSec}%.2f}}""")
      }

      // k-truss tiers (round-14 batch 10): each peel round is one
      // support pass of the x9_triangles kernel (orientation-bounded
      // adjacency intersection exploded to the triangle stream) — 4
      // passes per run. Replication keeps replicas disjoint, so the
      // surviving truss and its support mass must grow linearly with
      // the tier. 100x is deliberately skipped: the kernel's
      // linearity through two decades is already pinned by
      // x9_triangles' Subset row (10.9 s → 101.0 s); 4 passes ≈ 7 min
      // would re-measure the same law.
      if (blockOn("ktruss_tiers")) locally {
        def run(dir: String): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries("x9_ktruss")(spark, dir)
          val r = df.agg(count(lit(1)), sum(col("sup"))).head()
          ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
        }
        def best2(dir: String): (Double, Long, Long) = {
          val a = run(dir); val b = run(dir)
          if (a._1 <= b._1) a else b
        }
        val t1 = best2(tier(1))
        val t10 = best2(tier(10))
        require(t10._2 >= 8 * t1._2 && t10._2 <= 12 * t1._2,
          s"disjoint replicas: surviving truss edges must track the " +
            s"tier linearly: ${t1._2} -> ${t10._2}")
        require(t10._3 >= 8 * t1._3,
          s"support mass must track the tier: ${t1._3} -> ${t10._3}")
        def js(t: (Double, Long, Long)): String =
          f"""{"sec":${t._1}%.2f,"edges":${t._2},"support_sum":${t._3}}"""
        System.err.println(
          s"""[scalebench] {"ktruss_tiers":{"x1":${js(t1)},""" +
            s""""x10":${js(t10)},""" +
            f""""r10":${t10._1 / t1._1}%.2f}}""")
      }

      // Deletion-vector law (round-14 batch 12): deleting k rows from
      // a table of growing group size — the DV arm writes k-row key
      // sidecars on the overlapping groups; the rewrite arm
      // (deleteRange-style copy-on-write) rewrites the groups' full
      // data. The DV cost should stay ~flat as groups grow 100×
      // (bounded by the overlap SCAN, not the write), the rewrite
      // cost linear; reads after either arm agree (require-pinned).
      if (blockOn("dv_arms")) locally {
        import graft.sources.VersionedTable
        def clean(p: String): Unit = {
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fsx = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fsx.exists(fsp)) fsx.delete(fsp, true)
        }
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val a = f
          (a, (System.nanoTime() - t0) / 1e9)
        }
        // WIDE rows: the rewrite arm pays the payload bytes, the DV
        // arm's scan projects only the key column (columnar) and its
        // write is a 1000-key sidecar
        def build(p: String, rows: Long): Unit = {
          clean(p)
          var v = 0L
          val slice = rows / 4
          (0L until 4L).foreach { i =>
            v = VersionedTable.commit(spark, p,
              spark.range(i * slice, (i + 1) * slice)
                .select(col("id").as("k"), (col("id") * 3).as("pay"),
                  expr("repeat(uuid(), 12)").as("blob")),
              v, statsCol = Some("k"))
          }
        }
        // delete the same 1000 keys (range-confined to group 0) at
        // every tier so only the GROUP SIZE varies
        val delKeys = spark.range(0L, 1000L).select(col("id").as("k"))
        val out = Seq(1L, 10L, 100L).map { c =>
          val rows = 100000L * c
          val pDv = s"target/dvarm_dv_$c"
          val pRw = s"target/dvarm_rw_$c"
          build(pDv, rows); build(pRw, rows)
          val ((_, nDv), dvSec) =
            timed(VersionedTable.deleteKeys(spark, pDv, delKeys, "k"))
          val ((_, nRw), rwSec) =
            timed(VersionedTable.deleteRange(spark, pRw, "k", 0L, 999L))
          require(nDv == 1 && nRw == 1,
            s"both arms must touch exactly group 0: $nDv / $nRw")
          val a = VersionedTable.read(spark, pDv).get
            .agg(count(lit(1)), sum(col("pay"))).head()
          val b = VersionedTable.read(spark, pRw).get
            .agg(count(lit(1)), sum(col("pay"))).head()
          require(a.getLong(0) == rows - 1000 &&
            a.getLong(0) == b.getLong(0) &&
            a.getLong(1) == b.getLong(1),
            s"arms must agree: ${a.getLong(0)}/${b.getLong(0)} rows")
          (c, rows, dvSec, rwSec)
        }
        val js = out.map { case (c, rows, dv, rw) =>
          f""""x$c":{"rows":$rows,"dv_sec":$dv%.3f,"rewrite_sec":$rw%.3f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"dv_arms":{$js}}""")
      }

      // Indexed-scan tiers (round-15): the VTableFileIndex law — a
      // fixed-width key-range query against key-clustered tables
      // whose GROUP COUNT grows 100x opens a FLAT number of files
      // (the stats prune everything disjoint), while the unfiltered
      // scan's file count tracks the table. The require pins the flat
      // half exactly; the printed seconds carry the planning-cost
      // reading (log resolution + group listing is O(groups) metadata
      // — the same linear term Delta pays in log replay).
      if (blockOn("index_tiers")) locally {
        import graft.sources.VersionedTable
        def clean(p: String): Unit = {
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fsx = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fsx.exists(fsp)) fsx.delete(fsp, true)
        }
        def scanned(df: DataFrame): Long = {
          // collect() (not a noop WRITE and not an agg): the write
          // command wraps the plan in its own QueryExecution and an
          // aggregate wraps it in AdaptiveSparkPlanExec — both leave
          // THIS df's scan metrics unreadable; the raw collect
          // executes the scan+filter plan directly (≤ 800k tiny rows
          // here)
          df.collect()
          df.queryExecution.executedPlan.collectLeaves()
            .flatMap(_.metrics.get("numFiles")).map(_.value).sum
        }
        // two tiers: a build is g SEQUENTIAL commits (the honest way
        // to produce g live groups), so 800 groups would spend ~10
        // min building fixture, not measuring — 10x group growth
        // already exhibits the flat law
        val out = Seq(8, 80).map { g =>
          val p = s"target/idxt_$g"
          clean(p)
          var v = 0L
          (0 until g).foreach { i =>
            // one file per group: the law under measurement is group
            // skipping, not per-group file fanout
            v = VersionedTable.commit(spark, p,
              spark.range(i * 1000L, (i + 1) * 1000L)
                .select(col("id").as("k"), (col("id") * 3).as("pay"))
                .repartition(1),
              v, statsCol = Some("k"))
          }
          val t0 = System.nanoTime()
          val opened = scanned(
            VersionedTable.readIndexed(spark, p, "k").get
              .filter(col("k") >= 1500L && col("k") <= 2500L))
          val sec = (System.nanoTime() - t0) / 1e9
          val total = scanned(VersionedTable.readIndexed(spark, p, "k").get)
          require(opened == 2 && total == g.toLong,
            s"flat-law violation at $g groups: opened $opened of $total")
          (g, opened, total, sec)
        }
        val js = out.map { case (g, o, t, sec) =>
          f""""g$g":{"opened":$o,"total":$t,"filtered_sec":$sec%.3f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"index_tiers":{$js}}""")
      }

      // BPE-train tiers (round-15 verdict item 6): the only
      // multi-round operator family without a measured law. Each of
      // the 5 rounds is (a) one corpus-LINEAR window pass (lead +
      // leftmost-first merge rewrite, one doc_id exchange), (b) a
      // pair-count aggregate whose OUTPUT is vocab²-bounded (map-side
      // partial combine — the exchange carries distinct pairs per
      // partition, not the token stream), (c) a bounded top-1.
      // Replication clones every document, so the merge SEQUENCE must
      // be replica-invariant (same winning pairs, same order) with
      // pair counts and post-merge stream sizes exactly tier-scaled —
      // the structural requires ARE the law's falsifiable half.
      if (blockOn("bpe_tiers")) locally {
        def run(dir: String)
            : (Double, Seq[(Long, String, String, Long, Long)]) = {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries("x4_bpe_train")(spark, dir)
            .collect().map(r => (r.getLong(0), r.getString(1),
              r.getString(2), r.getLong(3), r.getLong(4))).toSeq
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        def best2(dir: String)
            : (Double, Seq[(Long, String, String, Long, Long)]) = {
          val x = run(dir); val y = run(dir)
          if (x._1 <= y._1) x else y
        }
        val (s1, r1) = best2(tier(1))
        val (s10, r10) = best2(tier(10))
        require(r1.map(t => (t._1, t._2, t._3)) ==
          r10.map(t => (t._1, t._2, t._3)),
          s"merge sequence must be replica-invariant:\n$r1\nvs\n$r10")
        r1.zip(r10).foreach { case (a, b) =>
          require(b._4 == 10 * a._4 && b._5 == 10 * a._5,
            s"round ${a._1}: counts must be exactly 10x: $a vs $b")
        }
        System.err.println(
          s"""[scalebench] {"bpe_tiers":{""" +
            f""""x1_sec":$s1%.2f,"x10_sec":$s10%.2f,""" +
            f""""r10":${s10 / s1}%.2f,"rounds":${r1.size},""" +
            s""""pair_counts_x1":[${r1.map(_._4).mkString(",")}]}}""")
      }

      // DV-aware MERGE arms (round-15 verdict item 4, the dv_arms
      // companion for UPDATES): the same 1000-key update batch
      // (range-confined to group 0) lands on tables whose only
      // difference is GROUP SIZE. The copy-on-write mergePruned
      // rewrites all of group 0 — cost tracks group BYTES — while
      // mergeDv writes a 1000-key sidecar + a 1000-row appended
      // group — cost tracks the BATCH. Structural requires pin the
      // masked-not-rewritten shape and bit-equal content across arms.
      if (blockOn("merge_dv_arms")) locally {
        import graft.sources.VersionedTable
        def clean(p: String): Unit = {
          val fsp = new org.apache.hadoop.fs.Path(p)
          val fsx = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fsx.exists(fsp)) fsx.delete(fsp, true)
        }
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val a = f
          (a, (System.nanoTime() - t0) / 1e9)
        }
        def build(p: String, rows: Long): Unit = {
          clean(p)
          var v = 0L
          val slice = rows / 4
          (0L until 4L).foreach { i =>
            v = VersionedTable.commit(spark, p,
              spark.range(i * slice, (i + 1) * slice)
                .select(col("id").as("k"), (col("id") * 3).as("pay"),
                  expr("repeat(uuid(), 12)").as("blob")),
              v, statsCol = Some("k"))
          }
        }
        val updates = spark.range(0L, 1000L)
          .select(col("id").as("k"), (col("id") * 3 + 7).as("pay"),
            expr("repeat(uuid(), 12)").as("blob"))
        val out = Seq(1L, 10L, 100L).map { c =>
          val rows = 100000L * c
          val pDv = s"target/mdvarm_dv_$c"
          val pRw = s"target/mdvarm_rw_$c"
          build(pDv, rows); build(pRw, rows)
          val ((_, masked, rewrote), dvSec) = timed(
            VersionedTable.mergeDv(spark, pDv, updates, "k",
              maxDvFraction = 0.5))
          val ((_, nRw), rwSec) = timed(
            VersionedTable.mergePruned(spark, pRw, updates, "k"))
          require(masked == 1 && rewrote == 0 && nRw == 1,
            s"arms must touch exactly group 0: $masked/$rewrote vs $nRw")
          val a = VersionedTable.read(spark, pDv).get
            .agg(count(lit(1)), sum(col("pay"))).head()
          val b = VersionedTable.read(spark, pRw).get
            .agg(count(lit(1)), sum(col("pay"))).head()
          require(a.getLong(0) == rows && a.getLong(0) == b.getLong(0) &&
            a.getLong(1) == b.getLong(1),
            s"arms must agree: ${a.getLong(0)}/${b.getLong(0)} rows, " +
              s"${a.getLong(1)}/${b.getLong(1)} pay")
          // the DV arm's read-side debt, priced: one masked-group scan
          val (_, readSec) = timed(
            VersionedTable.read(spark, pDv).get
              .agg(count(lit(1))).head())
          (c, rows, dvSec, rwSec, readSec)
        }
        val js = out.map { case (c, rows, dv, rw, rd) =>
          f""""x$c":{"rows":$rows,"merge_dv_sec":$dv%.3f,""" +
            f""""merge_rewrite_sec":$rw%.3f,"dv_read_sec":$rd%.3f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"merge_dv_arms":{$js}}""")
      }

      // MIS + personalized-PageRank tiers (round-14 batch 13):
      // replicas are disjoint, so Luby's decisions and the PPR mass
      // flow stay replica-local — MIS membership and the seeded node
      // count must track the tier linearly; per-round work is
      // edge-linear (no triangle/wedge stream anywhere), so the
      // seconds should track the edge relation.
      if (blockOn("mis_ppr_tiers")) locally {
        def run(name: String, dir: String, agg: DataFrame => (Long, Long))
            : (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val (a, b) = agg(SparkEntry.queries(name)(spark, dir))
          ((System.nanoTime() - t0) / 1e9, a, b)
        }
        def best2(name: String, dir: String,
            agg: DataFrame => (Long, Long)): (Double, Long, Long) = {
          val x = run(name, dir, agg); val y = run(name, dir, agg)
          if (x._1 <= y._1) x else y
        }
        val misAgg = (df: DataFrame) => {
          val r = df.agg(
            sum(when(col("status") === "mis", 1L).otherwise(0L)),
            count(lit(1))).head()
          (r.getLong(0), r.getLong(1))
        }
        val pprAgg = (df: DataFrame) => {
          val r = df.agg(sum(col("seed").cast("long")),
            sum(when(col("rank_pico") > 0, 1L).otherwise(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val m1 = best2("x9_mis", tier(1), misAgg)
        val m10 = best2("x9_mis", tier(10), misAgg)
        require(m10._2 >= 8 * m1._2 && m10._3 >= 8 * m1._3,
          s"disjoint replicas: MIS size must track the tier: " +
            s"${m1._2}/${m1._3} -> ${m10._2}/${m10._3}")
        val p1 = best2("x9_ppr", tier(1), pprAgg)
        val p10 = best2("x9_ppr", tier(10), pprAgg)
        require(p10._2 >= 8 * p1._2,
          s"seed count must track the tier: ${p1._2} -> ${p10._2}")
        def js(t: (Double, Long, Long), k1: String, k2: String): String =
          f"""{"sec":${t._1}%.2f,"$k1":${t._2},"$k2":${t._3}}"""
        System.err.println(
          s"""[scalebench] {"mis_ppr_tiers":{""" +
            s""""mis_x1":${js(m1, "in_mis", "nodes")},""" +
            s""""mis_x10":${js(m10, "in_mis", "nodes")},""" +
            f""""mis_r10":${m10._1 / m1._1}%.2f,""" +
            s""""ppr_x1":${js(p1, "seeds", "reached")},""" +
            s""""ppr_x10":${js(p10, "seeds", "reached")},""" +
            f""""ppr_r10":${p10._1 / p1._1}%.2f}}""")
      }

      // MIS exchange arms (round-15 verdict item 1): Luby rounds
      // against the fixed arms — the broadcast arm ships the
      // node-FRACTION-sized undecided/selected sets to every executor
      // per round (the round-14 verdict's one named scale-killer),
      // the msg arm shuffles node-bounded vectors into the
      // once-cached co-partitioned symmetric adjacency. The named
      // x9_mis query routes through the rank-arm advisor, so the
      // fixed arms are addressed directly (the rank_arms pattern);
      // the structural require pins bit-equal MIS membership counts
      // between arms at the 10x tier.
      if (blockOn("mis_arms")) locally {
        def misCount(df: DataFrame): (Long, Long) = {
          val r = df.agg(
            sum(when(col("status") === "mis", 1L).otherwise(0L)),
            count(lit(1))).head()
          (r.getLong(0), r.getLong(1))
        }
        def best2(dir: String, msg: Boolean): (Double, Long, Long) = {
          def once: (Double, Long, Long) = {
            val t0 = System.nanoTime()
            val (a, b) = misCount(
              graft.queries.Parity77.misQ(spark, dir, msg))
            ((System.nanoTime() - t0) / 1e9, a, b)
          }
          val x = once; val y = once
          if (x._1 <= y._1) x else y
        }
        val parts = Seq(10 -> tier(10), 100 -> tier(100)).map {
          case (c, dir) =>
            val b = best2(dir, msg = false)
            val m = best2(dir, msg = true)
            require(b._2 == m._2 && b._3 == m._3,
              s"arms disagree at x$c: broadcast ${b._2}/${b._3} vs " +
                s"msg ${m._2}/${m._3}")
            f""""x$c":{"broadcast_sec":${b._1}%.2f,"msg_sec":${m._1}%.2f,""" +
              f""""msg_over_broadcast":${m._1 / b._1}%.2f,""" +
              f""""in_mis":${b._2},"nodes":${b._3}}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"mis_arms":{$parts}}""")
      }

      // Restore/clone law (round-14 batch 9): both verbs are
      // metadata-only — cost is one log resolution + one entry CAS,
      // independent of table SIZE (the structural requires pin the
      // zero-data property; the printed seconds carry the flat-law
      // reading: 100x the rows, same restore/clone cost).
      if (blockOn("restore_clone")) locally {
        import graft.sources.VersionedTable
        def clean(p: String): Unit = {
          val path = new org.apache.hadoop.fs.Path(p)
          val f = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (f.exists(path)) f.delete(path, true)
        }
        def dataGroups(p: String): Int =
          Option(new java.io.File(p, "data").list()).map(_.length)
            .getOrElse(0)
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val a = f
          (a, (System.nanoTime() - t0) / 1e9)
        }
        val out = Seq(1L, 10L, 100L).map { c =>
          val rows = 100000L * c
          val p = s"target/rc_src_$c"
          val dst = s"target/rc_dst_$c"
          clean(p); clean(dst)
          // 8 contiguous-range commits so stats-pruned paths stay
          // exercised on the clone
          var v = 0L
          val slice = rows / 8
          (0L until 8L).foreach { i =>
            v = VersionedTable.commit(spark, p,
              spark.range(i * slice, (i + 1) * slice)
                .select(col("id").as("k"), (col("id") * 7).as("pay")),
              v, statsCol = Some("k"))
          }
          val groupsBefore = dataGroups(p)
          val (_, restoreSec) = timed(VersionedTable.restore(spark, p, 4L))
          require(dataGroups(p) == groupsBefore,
            "restore staged data — must be metadata-only")
          val srcAbs = new java.io.File(p).getAbsolutePath
          val (_, cloneSec) =
            timed(VersionedTable.cloneShallow(spark, srcAbs, dst))
          require(dataGroups(dst) == 0,
            "shallow clone copied data — must be zero-copy")
          // the clone must actually read (plan-time check only: one
          // cheap count over the referenced groups at the 1x tier)
          if (c == 1L)
            require(VersionedTable.read(spark, dst).get.count() ==
              4L * slice, "clone of the restored v4 reads half the keys")
          (c, rows, restoreSec, cloneSec)
        }
        val js = out.map { case (c, rows, r, cl) =>
          f""""x$c":{"rows":$rows,"restore_sec":$r%.3f,"clone_sec":$cl%.3f}"""
        }.mkString(",")
        System.err.println(s"""[scalebench] {"restore_clone":{$js}}""")
      }

      if (blockOn("local_arm"))
        System.err.println(s"""[scalebench] {"local_arm":${localArm(spark)}}""")

      val c100 = rows.filter(_._4 > 0)
      // a filter selecting only SkipAt100 rows leaves c100 empty —
      // emit null, not 0.0/0.0 = NaN (unquoted NaN is invalid JSON)
      val x100Js =
        if (c100.isEmpty) """"x100_total":null,"r100_over_r10":null,"""
        else f""""x100_total":${c100.map(_._4).sum}%.2f,""" +
          f""""r100_over_r10":${c100.map(_._4).sum / c100.map(_._3).sum}%.2f,"""
      if (rows.nonEmpty) println(f"""{"metric":"scaleup","x1_total":${rows.map(_._2).sum}%.2f,""" +
        f""""x10_total":${rows.map(_._3).sum}%.2f,""" +
        x100Js +
        s""""n_queries":${rows.size}}""")
    }
    spark.stop()
  }
}
