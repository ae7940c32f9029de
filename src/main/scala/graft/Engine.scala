package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import graft.functions.ImpalaFunctions

/** Session factory + table registrar for the graft engine.
  *
  * Plays the role of the reference's service entry points (Impala's
  * `be/src/service/impala-server.cc` Beeswax/HS2 `Execute` path,
  * `fe/src/main/java/com/cloudera/impala/service/Frontend.java:901`
  * `createExecRequest`): Catalyst is the parser/analyzer/planner and the
  * Spark scheduler replaces the fragment coordinator, so this layer is a
  * thin library over `SparkSession`.
  *
  * Scale notes (100 TB design intent):
  *  - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  *    broadcast demotion replace Impala's static `DistributedPlanner`
  *    (`DistributedPlanner.java:303-394`) decisions.
  *  - Broadcast threshold left at Spark's default so small dims (region,
  *    nation, supplier at most SFs) broadcast instead of shuffling.
  *  - Shuffle partitions default to the local core count; on a real cluster
  *    this is `spark.sql.shuffle.partitions` tuned to 2-3x total cores and
  *    AQE coalesces from there.
  */
object Engine {

  /** The driver-generated tables (TESTDATA.md): TPC-H-ish star schema plus
    * events/documents/embeddings extension tables.
    */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Build a local session with the engine's defaults. Queries coming from
    * the driver reuse whatever session it created; this is for the tests,
    * `Bench`, the tools and the benchmark runner.
    */
  def session(cores: String = "32", appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // static conf; sized to the registry so distinct queries don't
      // evict each other's compiled codegen stages (NOTES round-12
      // drift attribution — default is 100 entries)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // Fork-free local writes. Without the native libhadoop, Spark's
      // default FileContext checkpoint manager forks `readlink` on every
      // rename and Hadoop's local filesystem forks `chmod` on every file
      // it creates: several process forks per streaming trigger (state
      // deltas, offset, commit and source logs), and one per file of an
      // INSERT or checkpoint. The FileSystem-based manager renames with
      // one rename(2) on `file:` (same atomicity, same .crc and checksum
      // files); LocalFs sets the same mode bits through java.nio.
      // Durability is unchanged: neither path fsyncs.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.LocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    spark
  }

  /** Session-level knobs we want regardless of who built the session
    * ([[session]] applies them; the SQL front door and the operators
    * call this again on whatever session they are handed). Mirrors the
    * reference's planner behaviors that are flag-gated in Spark
    * (SURVEY.md section 4.1).
    */
  def configure(spark: SparkSession): Unit = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    // Impala's expression semantics are permissive (NULL on bad cast,
    // NULL on integer div-by-zero — be/src/exprs/operators.cc), not
    // ANSI-error; Spark 4 defaults to ANSI on, so switch it off for
    // dialect parity.
    c.set("spark.sql.ansi.enabled", "false")
    // Impala generates runtime bloom filters from join builds
    // (RuntimeFilterGenerator.java:56-80); Spark's equivalent:
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Predicate propagation via equivalence classes (Analyzer.java:1527+):
    c.set("spark.sql.constraintPropagation.enabled", "true")
    // NOT IN -> null-aware anti join as a single pass (StmtRewriter.java:524):
    c.set("spark.sql.optimizer.nullAwareAntiJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    // rejects; read as epoch-nanos BIGINT (column `ts`). Engine queries
    // treat event time as int64 nanos end-to-end (the reference's
    // TimestampValue is nanosecond-resolution too, timestamp-value.h:40-65).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the dialect permits bare count() as count(*)
    c.set("spark.sql.legacy.allowParameterlessCount", "true")
    // Impala has no BINARY type: parquet byte_array columns without a
    // UTF8 annotation read as STRING (parquet-metadata-utils.cc type
    // mapping); Spark needs the flag to match.
    c.set("spark.sql.parquet.binaryAsString", "true")
    // INSERT OVERWRITE with dynamic partitions replaces only the
    // partitions that receive rows (hdfs-table-sink.cc:509 deletes
    // per-output-partition), not the whole table — Spark calls that
    // "dynamic" overwrite mode (its default is "static" = full wipe).
    c.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // dialect functions once per session (re-registration is pure churn)
    if (fnRegistered.add(spark)) {
      ImpalaFunctions.register(spark)
      // narrow semi/anti build sides reduce to their distinct rows
      // before AQE can runtime-broadcast a row-huge/byte-tiny build
      // (IMPALA-2256 parity) — see plans/SemiJoinBuildDedup
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.SemiJoinBuildDedup)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations ++ Seq(
            graft.plans.SemiJoinBuildDedup,
            // IN-subquery literal transfer (ValueTransferGraph parity):
            // must run after RewriteSubquery, which is why Spark's own
            // constraint inference misses it — see
            // plans/SemiJoinValueTransfer. The filters it adds sit
            // directly above the join inputs; PhysicalOperation folds
            // Filter/Project chains into the scan at planning time, so
            // no re-run of PushDownPredicates is needed (measured ~0.1 s
            // optimizer overhead per query when it was in this batch).
            graft.plans.SemiJoinValueTransfer)
      }
    }
  }

  private val fnRegistered = PerSession.set()

  /** Read one table from an sf directory (HdfsTable analog,
    * `fe/.../catalog/HdfsTable.java`): plain parquet with pushdown +
    * pruning handled by the file source.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The engine-wide contract for `events.ts` is int64 epoch-nanos (the
    * reference's TimestampValue is nanosecond-resolution,
    * `be/src/runtime/timestamp-value.h:40-65`). The driver's testdata has
    * shipped the column both as parquet TIMESTAMP(NANOS) (read as BIGINT
    * via `nanosAsLong`) and as TIMESTAMP_MICROS/NTZ; normalize the
    * timestamp encodings back to epoch-nanos at mount so every consumer
    * (window queries, sessionization, streaming) sees one type. A cast
    * through TimestampType is wall-clock-preserving for NTZ under the
    * session's UTC zone. Pure projection — pushdown/pruning unaffected.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
      case _ => df
    }

  /** Fan a scan-level relation out to the session's full parallelism
    * ahead of per-row heavy compute (codec decode, tokenize/shingle
    * kernels): the driver testdata ships each table as ONE parquet
    * file with ONE row group, so every scan is a single task and a
    * compute-heavy map stage serializes on one core — the "one huge
    * unsplittable file" input-skew case, whose fix is "repartition
    * immediately after the read" (optimization guide §2.5). The
    * repartition is GATED on the scan's actual task count vs the
    * session's parallelism, so a real cluster's many-file table (or a
    * future multi-row-group testdata) pays NO extra exchange — this
    * is runtime-adaptive, not a local-mode constant. Hash-partition
    * on a caller-chosen high-cardinality key: deterministic under
    * task retries (unlike round-robin, which also pays a local sort
    * per SPARK-23207).
    *
    * Only scan-level plans are accepted (scans and checkpoints under
    * projections, filters and unions, no exchanges): the gate reads
    * `df.rdd.getNumPartitions`, which under AQE would materialize any
    * shuffle stages below it. Any other node is rejected, by name,
    * before `df.rdd` is touched.
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.foreach {
      case _: LeafNode | _: Project | _: Filter | _: Union |
          _: SubqueryAlias | _: View => ()
      case other => throw new IllegalArgumentException(
        s"Engine.fanOut needs a scan-level input (scans under " +
          s"projections, filters and unions); found ${other.nodeName}")
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target, key)
  }

  /** Materialize `df` eagerly and cut its lineage — the intermediate
    * checkpoint the iterative/multi-pass operators use so per-round
    * plans neither re-run history nor re-analyze the full tree.
    * Default: `localCheckpoint` (executor-local blocks — cheapest, but
    * at cluster scale an executor loss fails the job because the
    * lineage is gone). Production runs set
    * `graft.reliableCheckpoint=true` plus
    * `sparkContext.setCheckpointDir` on durable storage: same plan
    * shape, blocks recoverable.
    */
  def materialize(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get("graft.reliableCheckpoint", "false").toBoolean) {
      // fail fast: checkpoint(true) without a dir dies mid-job with a
      // generic SparkException
      require(s.sparkContext.getCheckpointDir.isDefined,
        "graft.reliableCheckpoint=true requires " +
          "sparkContext.setCheckpointDir on durable storage")
      df.checkpoint(true)
    } else df.localCheckpoint(true)
  }

  /** `df.materialized` sugar for [[materialize]] at the operators'
    * many call sites.
    */
  implicit class Materialize(private val df: DataFrame) {
    def materialized: DataFrame = materialize(df)
  }

  // last mounted sf dir per session: mounting eagerly reads 10 parquet
  // footers, which dominates per-query latency on conformance corpora if
  // repeated, so register() is a no-op until the dir changes
  private val mounted = PerSession.map[String]()

  /** Mount every table as a temp view so `spark.sql` works like the
    * reference's SQL front door. Idempotent and cached per (session, dir).
    */
  def register(spark: SparkSession, dir: String): Unit = {
    if (dir == mounted.get(spark)) return
    configure(spark)
    tableNames.foreach { t =>
      table(spark, dir, t).createOrReplaceTempView(t)
    }
    // the reference's UDF/UDA sample-library surface (QueryTest/udf.test,
    // uda.test) — installed like a user library at session setup
    graft.functions.UdfCorpus.register(spark)
    mounted.put(spark, dir)
  }

  /** SQL entry point: `Engine.sql(spark, sfDir, "SELECT ...")`.
    *
    * Accepts the reference's dialect beyond plain Spark SQL: plan hints
    * (`straight_join`, `[shuffle]`/`[broadcast]` — advisory in the
    * reference, Spark's AQE makes those calls here) are stripped, and
    * nested-types TableRefs (`FROM tbl.arr`, `FROM t, t.arr`,
    * subplan subqueries) rewrite through [[graft.plans.NestedTableRefs]].
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    // the reference's SET surface (TImpalaQueryOptions,
    // QueryTest/set.test): leading dialect-option SET statements apply
    // to the session (impala-shell submits `set k=v; select ...` as one
    // text), a bare SET returns the option listing. Dotted keys are
    // Spark confs and fall through to spark.sql untouched.
    var q = query.trim
    var m = setKvRe.findFirstMatchIn(q)
    while (m.exists(mm => QueryOptions.isOption(mm.group(1)))) {
      val mm = m.get
      QueryOptions.set(spark, mm.group(1), mm.group(2))
      q = q.substring(mm.end).trim
      m = setKvRe.findFirstMatchIn(q)
    }
    // a dotless SET key that is not a dialect option is the reference's
    // unknown-option error (set.test `set foo=bar`), not a Spark conf
    m.foreach { mm =>
      throw new IllegalArgumentException(
        s"Ignoring invalid configuration option: ${mm.group(1).toLowerCase}")
    }
    // a lone `set k=v` returns no rows (the reference's "query option
    // set" ack); a bare `set` returns the option listing
    if (q.isEmpty) return spark.emptyDataFrame
    if (q.matches("(?is)^set\\s*;?\\s*$"))
      return QueryOptions.list(spark)
    // EXPLAIN honors EXPLAIN_LEVEL (the reference's explain-level*.test
    // surface): 0/1 = the plain plan, 2 = extended, 3 = formatted with
    // per-operator detail. Explicit EXPLAIN EXTENDED/... pass through.
    if (q.matches("(?is)^explain\\s+(?!extended|codegen|cost|formatted|analyzed)[\\s\\S]*$")) {
      val mode = QueryOptions.get(spark, "EXPLAIN_LEVEL") match {
        case "2" => "extended "
        case "3" => "formatted "
        case _ => ""
      }
      if (mode.nonEmpty)
        q = q.replaceFirst("(?is)^explain\\s+", s"explain $mode")
    }
    // CREATE/DROP FUNCTION, SHOW [CREATE] FUNCTIONS — the dialect's
    // function-DDL surface (functions-ddl.test)
    graft.functions.FunctionDdl.route(spark, q) match {
      case Some(df) => return df
      case None => ()
    }
    // DESCRIBE <path> / SHOW TABLES|DATABASES / USE — the dialect's
    // metadata-introspection shapes (describe.test, show.test); DESCRIBE
    // FORMATTED/EXTENDED fall through to Spark's Hive-style output
    graft.plans.Introspect.route(spark, q) match {
      case Some(df) => return df
      case None => ()
    }
    // COMPUTE/DROP STATS, SHOW COLUMN STATS, LOAD DATA, REFRESH,
    // INVALIDATE METADATA — the dialect's catalog-operation statements
    // (compute-stats.test, load.test)
    graft.plans.CatalogOps.route(spark, q) match {
      case Some(df) => return df
      case None => ()
    }
    // CREATE/DROP DATA SOURCE; CREATE TABLE ... PRODUCED BY DATA SOURCE
    // rewrites to USING <provider> (create-data-source-table.sql)
    graft.sources.DataSourceDdl.route(spark, q) match {
      case Some(df) => return df
      case None => ()
    }
    if (q.toLowerCase.contains("produced by"))
      q = graft.sources.DataSourceDdl.rewriteProducedBy(spark, q)
    // deferred writer-codec rejection: SET COMPRESSION_CODEC=BZIP2 (a
    // valid HDFS codec the parquet writer can't use) is accepted at SET
    // time; the error fires when a parquet WRITE executes, exactly like
    // the reference's hdfs-parquet-table-writer
    // (insert_parquet_invalid_codec.test)
    QueryOptions.parquetWriterCodecError(spark).foreach { codec =>
      if (writesParquet(spark, q))
        throw new IllegalArgumentException(
          s"Invalid parquet compression codec $codec")
    }
    // compressed-text write rejection (text-writer.test): a session
    // codec other than NONE rejects inserts into text tables at write
    // time unless ALLOW_UNSUPPORTED_FORMATS=1 overrides
    // (hdfs-table-sink.cc:377-384)
    if (QueryOptions.get(spark, "COMPRESSION_CODEC") != "NONE" &&
        QueryOptions.get(spark, "ALLOW_UNSUPPORTED_FORMATS") != "1" &&
        writesText(spark, q))
      throw new IllegalArgumentException(
        "Writing to compressed text table is not supported. " +
          "Use query option ALLOW_UNSUPPORTED_FORMATS to override.")
    val cleaned = likeParquet(spark, stripPlanHints(q))
    // APPX_COUNT_DISTINCT=1: every single-argument COUNT(DISTINCT x)
    // becomes ndv_hll(x) before analysis (the reference's rewrite,
    // ImpalaService.thrift APPX_COUNT_DISTINCT) — ndv_hll is the
    // bit-exact replica of the reference's HLL-1024 (MurmurHash2 on
    // native slot bytes + float harmonic estimator), so the option
    // reproduces the reference's estimates EXACTLY on its own data
    // (distinct.test: 957/1016/963 over alltypesagg)
    val appxNdv = QueryOptions.get(spark, "APPX_COUNT_DISTINCT") == "1"
    val rewritten =
      try {
        if (injectRewriteFault)
          throw new IllegalStateException("injected rewrite fault")
        val parsed0 = org.apache.spark.sql.GraftSqlBridge.parsePlan(spark, cleaned)
        val parsed1 = if (!appxNdv) parsed0 else
          parsed0.transformAllExpressions {
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if f.nameParts.map(_.toLowerCase) == Seq("count") &&
                  f.isDistinct && f.arguments.size == 1 =>
              f.copy(nameParts = Seq("ndv_hll"), isDistinct = false)
          }
        // DEFAULT_ORDER_BY_LIMIT >= 0: a top-level ORDER BY without a
        // LIMIT gets the default limit applied (ImpalaService.thrift:76-79;
        // an explicit LIMIT parses as Limit ABOVE the Sort, so only a
        // bare Sort root matches)
        val dobl = QueryOptions.get(spark, "DEFAULT_ORDER_BY_LIMIT").toLong
        val parsed = parsed1 match {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort
              if dobl >= 0 =>
            org.apache.spark.sql.catalyst.plans.logical.Limit(
              org.apache.spark.sql.catalyst.expressions.Literal(dobl.toInt), s)
          case other => other
        }
        if (graft.plans.NestedTableRefs.mightApply(parsed)) {
          val out = graft.plans.NestedTableRefs.rewrite(spark, parsed)
          if (out ne parsed) Some(out) else None
        } else if (parsed ne parsed0) Some(parsed)
        else None
      } catch {
        // parse/analysis failures fall back to plain spark.sql, which
        // reproduces the same (better-rendered) error or serves syntax
        // this pre-pass doesn't model; anything else is an engine bug in
        // the rewrite itself and must SURFACE, not silently degrade the
        // plan (a broken NestedTableRefs would otherwise run the query
        // wrong-but-successfully)
        case e @ (_: org.apache.spark.sql.catalyst.parser.ParseException |
                  _: org.apache.spark.sql.AnalysisException) =>
          log.debug(s"dialect pre-pass fell back to spark.sql: ${e.getMessage}")
          None
      }
    rewritten match {
      case Some(plan) => org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
      case None => spark.sql(cleaned)
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val insertTargetRe =
    "(?is)^insert\\s+(?:overwrite\\s+)?(?:into\\s+)?(?:table\\s+)?([\\w.]+)[\\s\\S]*".r

  /** Is this statement a data WRITE whose files the parquet writer
    * produces? INSERTs resolve the target table's provider from the
    * catalog (unknown targets default to parquet, the engine's storage
    * default); CREATE TABLE only writes when it's a CTAS, with its
    * format read from the USING/STORED AS clause.
    */
  private def writesParquet(spark: SparkSession, q: String): Boolean = q match {
    case insertTargetRe(t) =>
      insertTargetProvider(spark, t).forall(_.equalsIgnoreCase("parquet"))
    case _ if q.matches("(?is)^create\\s+table\\b[\\s\\S]*\\bas\\s+select[\\s\\S]*") =>
      val using = "(?is)\\b(?:using|stored\\s+as)\\s+([\\w.]+)".r
        .findFirstMatchIn(q)
      using.forall(_.group(1).equalsIgnoreCase("parquet"))
    case _ => false
  }

  /** Is this statement an INSERT into a text-format (CSV) table? The
    * reference rejects compressed-text writes at sink open
    * (`be/src/exec/hdfs-table-sink.cc:377-384`) unless
    * ALLOW_UNSUPPORTED_FORMATS overrides.
    */
  private def writesText(spark: SparkSession, q: String): Boolean = q match {
    case insertTargetRe(t) =>
      insertTargetProvider(spark, t).exists(p =>
        p.equalsIgnoreCase("csv") || p.equalsIgnoreCase("text"))
    case _ if q.matches("(?is)^create\\s+table\\b[\\s\\S]*\\bas\\s+select[\\s\\S]*") =>
      // the reference's rejection fires at sink open, which covers CTAS
      // into a text table just like INSERT
      "(?is)\\b(?:using|stored\\s+as)\\s+([\\w.]+)".r.findFirstMatchIn(q)
        .exists(m => m.group(1).equalsIgnoreCase("csv") ||
          m.group(1).equalsIgnoreCase("text") ||
          m.group(1).equalsIgnoreCase("textfile"))
    case _ => false
  }

  /** The catalog provider of an INSERT's target table; None when the
    * table can't be resolved (the write will fail in analysis anyway).
    */
  private def insertTargetProvider(
      spark: SparkSession, t: String): Option[String] =
    try {
      val parts = t.split("\\.")
      val ident =
        if (parts.length >= 2)
          org.apache.spark.sql.catalyst.TableIdentifier(
            parts.last, Some(parts.head))
        else org.apache.spark.sql.catalyst.TableIdentifier(parts.head)
      spark.sessionState.catalog.getTableMetadata(ident).provider
    } catch { case _: Exception => None }

  /** Test seam: forces the rewrite pre-pass to throw a non-parse
    * exception, pinning that engine bugs in the rewrite surface to the
    * caller instead of silently degrading to plain spark.sql
    * (SqlFallbackSpec).
    */
  private[graft] var injectRewriteFault: Boolean = false

  /** `set ident = value[;]` — dialect option names only (no dots; dotted
    * keys are Spark confs). Value: quoted string or an unquoted token.
    */
  private val setKvRe =
    "(?is)^set\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*('[^']*'|\"[^\"]*\"|[^;\\s]+)\\s*(?:;|$)".r

  /** `CREATE TABLE t LIKE PARQUET '<file>'` — the reference infers the
    * new table's schema from a parquet file's footer
    * (`CreateTableLikeFileStmt.java`, parquet schema → column defs).
    * Spark has no such form; rewrite it to a plain CREATE TABLE with the
    * schema read from the file (footer-only read, no data scan).
    */
  private val likeParquetRe =
    "(?is)^\\s*create\\s+table\\s+(if\\s+not\\s+exists\\s+)?([\\w.]+)\\s+like\\s+parquet\\s+'([^']+)'\\s*$".r

  private def likeParquet(spark: SparkSession, query: String): String =
    query match {
      case likeParquetRe(ifNotExists, table, file) =>
        val schema = spark.read.parquet(file).schema
        val ine = if (ifNotExists == null) "" else "if not exists "
        // each inferred column carries the reference's provenance comment
        // (CreateTableLikeFileStmt.java: "Inferred from Parquet file.")
        val cols = schema.fields.map(f =>
          s"`${f.name}` ${f.dataType.sql} COMMENT 'Inferred from Parquet file.'")
          .mkString(", ")
        s"create table $ine$table ($cols) using parquet"
      case _ => query
    }

  /** The reference's optional plan hints have no Spark parse; they only
    * steer its static distributed planner (`DistributedPlanner.java`),
    * which AQE replaces, so dropping them is semantics-preserving.
    */
  private def stripPlanHints(query: String): String = {
    var q = query
    if (q.toLowerCase.contains("straight_join"))
      q = q.replaceAll("(?i)\\bstraight_join\\b", "")
    if (q.contains("["))
      q = q.replaceAll("\\[(?i:shuffle|noshuffle|broadcast)\\]", "")
    // Impala maps an empty-string partition-key value to the NULL
    // partition (insert.test "s2=''" lands in
    // __HIVE_DEFAULT_PARTITION__); Spark rejects '' in a static spec,
    // so rewrite it. Dynamic-partition '' values already map to NULL.
    if (q.toLowerCase.contains("partition")) {
      val emptyKey = "(?i)(partition\\s*\\([^)]*?=\\s*)(''|\"\")".r
      var prev = ""
      while (prev != q) { // fixpoint: one spec may hold several '' keys
        prev = q
        q = emptyKey.replaceAllIn(q, m => m.group(1) + "NULL")
      }
    }
    q
  }
}
