package graft.tools

import graft.{Engine, SparkEntry}
import graft.operators.{DedupOps, GraphOps}
import graft.streaming.{FileReplay, StreamNearDedup, StreamTwins}
import org.apache.spark.sql.functions._

/** Scale-sweep runner (r10 verdict #4): runs the connected-components
  * dedup entries and the star-emission paths against an N x-replicated
  * corpus (tools/gen_scale_sweep.py) and prints one JSON line per entry
  * with wall seconds and output rows. The CC rows (`cc_chain`,
  * `cc_minhash_star`) run [[GraphOps.connectedComponents]] with the
  * dedup passes' round bound [[DedupOps.CcRounds]]; a graph that does
  * not converge within it fails its certificate and the row throws.
  * The streaming twin rows run each [[StreamTwins]] entry through
  * [[StreamTwins.run]], Bench's own replay path: the corpus is
  * replayed from files and never lands on the driver, so they run at
  * every replication.
  * Usage: ScaleSweep <dir> [entry...] — with entry names given, only
  * those rows run.
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val only = args.tail.toSet
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    Engine.configure(spark)

    def emit(entry: String, f: () => (Long, String)): Unit = {
      if (only.nonEmpty && !only.contains(entry)) return
      val t0 = System.nanoTime()
      val (rows, extra) = f()
      val sec = (System.nanoTime() - t0) / 1e9
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))
      println(s"""{"entry":"$entry","sec":$s,"rows":$rows$extra,"dir":"$dir"}""")
    }

    emit("cc_chain", () => (GraphOps.connectedComponents(
      DedupOps.chainEdges(Engine.table(spark, dir, "documents")),
      DedupOps.CcRounds)
      .count(), ""))
    emit("dedup_cluster_assign", () =>
      (SparkEntry.queries("dedup_cluster_assign")(spark, dir).count(), ""))
    emit("dedup_survivor", () =>
      (SparkEntry.queries("dedup_survivor")(spark, dir).count(), ""))
    emit("organic_dedup_minhash_star", () => {
      val edges = DedupOps.minhashStarEdges(spark, dir)
      val n = edges.count()
      (n, "")
    })
    emit("cc_minhash_star", () => (GraphOps.connectedComponents(
      DedupOps.minhashStarEdges(spark, dir)
        .select(col("doc_a").as("x"), col("doc_b").as("y")),
      DedupOps.CcRounds)
      .count(), ""))
    emit("organic_dedup_simhash_star", () =>
      (DedupOps.simhashStarEdges(spark, dir).count(), ""))
    emit("organic_dedup_simhash_star_full", () =>
      (DedupOps.simhashStarEdgesFull(spark, dir).count(), ""))
    // substring dedup at scale, three regimes. The sweep corpus is
    // 100%-duplicated (texts identical across replicas), which is the
    // adversarial case for SUBSTRING granularity: every replica pair
    // shares every span, so output (and anchor pairs) grow
    // quadratically in replication — that is the semantics, not waste.
    // The prescribed 100 TB composition is therefore:
    //   exact doc-level collapse FIRST (one md5 groupBy), substring
    //   spans over distinct texts only ("substring_collapsed" — flat
    //   output across replication);
    // "substring_unique" mutates each replica (one extra char every 30
    // — no 40-gram survives a cross-replica pairing) to measure the
    // fingerprint/join cost on a dup-free corpus, the dominant regime
    // after doc-level dedup; "substring_raw" is the quadratic
    // worst case, run only at small N via the entry filter.
    def sweepDocs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    emit("substring_unique", () => {
      // 3-char replica code (unique to 26^3 replicas — one char aliased
      // mod 26 at 100x and reintroduced cross-replica dups); segments
      // between codes are 30 < k chars, so no cross-replica 40-gram
      val r = col("doc_id") / 100000000L
      val code = concat(chr(r % 26 + lit(65)), chr((r / 26) % 26 + lit(65)),
        chr((r / 676) % 26 + lit(65)))
      val mutated = sweepDocs.select(col("doc_id"),
        regexp_replace(col("text"), lit("(.{30})"),
          concat(lit("$1"), code)).as("text"))
      (DedupOps.substringSpans(mutated).count(), "")
    })
    emit("substring_collapsed", () => {
      val reps = sweepDocs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
        .select(col("doc_id"), col("text"))
      (DedupOps.substringSpans(reps).count(), "")
    })
    emit("substring_raw", () =>
      (DedupOps.substringSpans(sweepDocs).count(), ""))
    // BPE training cost is WORD-TYPE-bound, not corpus-bound: the
    // replicated corpus has the same vocabulary at every N (counts x N),
    // so per-round cost past the initial word-count aggregation should
    // be flat across replication
    emit("bpe_train", () => {
      val m = graft.operators.CorpusOps.bpeTrain(
        sweepDocs.select(col("text")), 16)
      (m.count(), "")
    })
    // full-corpus Lloyd's: per-iteration cost is one assignment scan +
    // one (k x dim)-row exact-decimal aggregate — wall-clock should be
    // linear in corpus size with CONSTANT driver/model state (k*dim),
    // the shape claim kmeansFit's scaladoc makes
    // sweep corpora are ONE parquet row group (single-task scan, the
    // local-file artifact in NOTES "Bench facts") — repartition so the
    // map-side explode parallelizes the way a many-split cluster scan
    // would natively
    def sweepEmb = Engine.table(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding").repartition(32)
    emit("kmeans_fit", () => {
      val cents = graft.operators.MlOps.kmeansFit(
        sweepEmb, "vec_id", "embedding", k = 10, iters = 5)
      (cents.length.toLong, "")
    })
    // SemDeDup on the replicated corpus: replicas are NEAR-identical
    // (perturbed floats), so organic near-dups appear and the
    // within-cluster pair stage works against cluster sizes that grow
    // linearly with replication — the quadratic-in-cluster-size cost
    // the paper accepts (k should grow with the corpus in production)
    emit("dedup_semantic_organic", () => {
      val emb = sweepEmb
      val cents = graft.operators.MlOps.kmeansFit(
        emb, "vec_id", "embedding", k = 10, iters = 2)
      (graft.operators.MlOps.semanticDedup(
        emb, "vec_id", "embedding", cents, 0.64,
        materialize = true).count(), "")
    })
    // the paper's prescribed composition: k grows with the corpus so
    // the expected cluster size (and with it the within-cluster
    // quadratic) stays CONSTANT — the fixed-k row above is the honest
    // worst case (cluster size x100 -> pair count x10^4)
    // BPE merges-count curve (r11 verdict #3): seconds-per-merge at
    // growing merge budgets — with delta-updated pair stats the
    // steady-state round touches only words containing the merged
    // pair, so the curve should flatten, not stay linear-in-vocab
    for (m <- Seq(16, 64, 256)) {
      emit(s"bpe_train_m$m", () => {
        val merges = graft.operators.CorpusOps.bpeTrain(
          Engine.table(spark, dir, "documents").select(col("text")), m)
        val n = merges.count()
        (n, s""","merges":$m""")
      })
    }
    // retrieval over the replicated corpus: vocabulary constant,
    // tf/df/N grow Nx — cost should be scan-bound (2 scans / 1
    // exchange, the PlanBudget shapes). Like sweepEmb, the input is
    // repartitioned first: the sweep file is ONE row group, and the
    // map-side tokenization would otherwise run single-task (a shape a
    // many-split cluster scan never has)
    def sweepDocsWide = Engine.table(spark, dir, "documents")
      .selectExpr("doc_id", "text").repartition(32)
    emit("retrieval_bm25", () =>
      (graft.operators.RetrievalOps
        .scoreDocs(sweepDocsWide, Seq("spark", "vector", "stream"))
        .orderBy(col("score").desc, col("doc_id")).limit(20).count(), ""))
    emit("retrieval_multiquery", () =>
      (graft.operators.RetrievalOps
        .multiQuery(spark, sweepDocsWide).count(), ""))
    // fixed-point PageRank on a synthetic expander sized to the corpus
    // (the organic purchase graph's distinct pairs don't grow under
    // replication): N = 4x docs, 3 modular arcs symmetrized (~6N
    // directed edges); per-iteration cost = one edge join + one
    // groupBy(dst) — wall should be linear in N with 3 rounds
    emit("graph_pagerank_synth", () => {
      val docsN = Engine.table(spark, dir, "documents").count()
      val n = docsN * 4
      val ids = spark.range(n).select(col("id").as("src"))
      val arcs = Seq(3L, 7L, 11L)
      val fwd = arcs.map(a => ids.select(col("src"),
          ((col("src") * a + 1) % n).as("dst")))
        .reduce(_ unionAll _)
        .filter(col("src") =!= col("dst"))
      val edges = fwd.unionAll(
        fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val pr = graft.operators.GraphOps.pageRank(edges, iters = 3,
        base = 100000000000L)
      (pr.count(), s""","nodes":$n""")
    })
    // interval-overlap join on synthetic spans sized to the corpus:
    // ~2-3 overlaps per probe window, bucket fan-out 2-3 — cost should
    // be linear in N (explode + one equi-join)
    emit("join_interval_synth", () => {
      val m = Engine.table(spark, dir, "documents").count()
      val a = spark.range(m).select(col("id").as("a_id"),
        (col("id") * 1000L).as("a_s"), (col("id") * 1000L + 1500L).as("a_e"))
      val b = spark.range(math.max(1L, m / 5)).select(col("id").as("b_id"),
        (col("id") * 5000L + 200L).as("b_s"),
        (col("id") * 5000L + 800L).as("b_e"))
      val joined = graft.operators.IntervalJoin.overlapJoin(
        a, b, "a_s", "a_e", "b_s", "b_e", shift = 10)
      (joined.count(), "")
    })
    // ---- events-analytics family at replicated users (r13 verdict
    // #3): the sweep corpus replicates events along the USER axis
    // (gen_scale_sweep.py), so these measure genuine user-cardinality
    // scaling, not identical re-runs. Batch entries first (wall +
    // rows); the streaming twins follow.
    for (e <- Seq("events_funnel", "events_funnel_k4",
        "events_retention", "events_transitions",
        "stat_rolling_quantiles", "stat_drift_tvd", "events_ohlc",
        "events_anomaly_mad", "join_asof",
        "join_interval", "graph_kcore", "graph_label_prop",
        "graph_triangles", "graph_pagerank")) {
      emit(e, () => (SparkEntry.queries(e)(spark, dir).count(), ""))
    }
    // the streaming twins (graft.streaming.StreamTwins) with their
    // state bounds: on the replicated corpus identical texts share
    // MinHash buckets, so the near-dup state must stay ~flat while the
    // corpus grows Nx (bucket-ndv-bound, distinct_buckets), and the CMS
    // state stays at its 256 cells. neardedup and cms keep their older
    // organic_stream_ row names; their docs = input rows.
    for (t <- StreamTwins.all) {
      val organic = Set("neardedup", "cms")(t.name)
      emit((if (organic) "organic_stream_" else "stream_") + t.name, () => {
        val replays = collection.mutable.Map.empty[String, String]
        val m = try StreamTwins.run(spark, dir, t, replays)
          finally replays.values.foreach(FileReplay.drop)
        (m.emitted, s""","state_rows":${m.stateRows},"batches":${m.batches}""" +
          s""","trigger_ms":${m.triggerMs}""" +
          (if (t.name != "neardedup") "" else
            s""","distinct_buckets":${StreamNearDedup.stateBound(sweepDocs)}""") +
          (if (organic) s""","docs":${m.inputRows}""" else ""))
      })
    }
    emit("dedup_semantic_scaledk", () => {
      val emb = sweepEmb
      val k = math.max(10, (emb.count() / 50L).toInt)
      val cents = graft.operators.MlOps.kmeansFit(
        emb, "vec_id", "embedding", k, iters = 2)
      (graft.operators.MlOps.semanticDedup(
        emb, "vec_id", "embedding", cents, 0.64,
        materialize = true).count(),
        s""","k":$k""")
    })
    spark.stop()
  }
}
