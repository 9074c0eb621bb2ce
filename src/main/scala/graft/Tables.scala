package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{CacheDiscipline, Dedup, Similarity, TextAnalysis}

/** Table catalog over one testdata scale-factor directory.
  *
  * Plays the role of the reference's table-open + metadata step
  * (`shade_ms/ms_info.py :: MSInfo`, `shade_ms/data_plots.py ::
  * get_plot_data` [U]): open the main fact tables plus the small dimension
  * tables. Column pruning and predicate pushdown are left to Catalyst — the
  * parquet scan only reads what downstream plans reference, which is the
  * Spark-native analogue of `xds_from_ms(columns=..., taql=...)`.
  *
  * All loads are lazy `DataFrame`s: nothing is read until an action runs.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Native Catalyst functions (cosine_similarity, …) must exist in the
  // session registry before plans reference them; idempotent.
  graft.plans.GraftFunctions.ensureRegistered(spark)

  /** Schemas are pinned (FIXTURES.md) rather than inferred: skipping the
    * driver-side footer read saves ~90 ms per table construction, and at
    * production scale avoids a listing+footer fetch on every query. */
  private def load(name: String): DataFrame =
    spark.read.schema(Tables.schemas(name)).parquet(s"$dir/$name.parquet")

  lazy val region: DataFrame    = load("region")
  lazy val nation: DataFrame    = load("nation")
  lazy val customer: DataFrame  = load("customer")
  lazy val supplier: DataFrame  = load("supplier")
  lazy val part: DataFrame      = load("part")
  lazy val orders: DataFrame    = load("orders")
  lazy val lineitem: DataFrame  = load("lineitem")
  lazy val documents: DataFrame = load("documents")
  lazy val embeddings: DataFrame = load("embeddings")

  /** `events.parquet` has shipped with BOTH `TIMESTAMP(NANOS)` (rounds 1-8)
    * and `timestamp[us]` (round 9+) physical types, so the `ts` layout is
    * probed from the parquet footer once per directory (memoized JVM-wide)
    * instead of pinned. Nanos files — which Spark 4.x refuses to read
    * natively (`[PARQUET_TYPE_ILLEGAL]`) — are read as long under
    * `nanosAsLong` and truncated to microseconds with integer division
    * (exact: the generator emits µs-precision values; verified equal to
    * DuckDB's native read). Micros files read directly as TimestampType.
    */
  lazy val events: DataFrame = Tables.eventsView(spark, dir)

  /** The MinHash+LSH near-dup pair table over `documents` at the default
    * parameters, memoized per (session, dir): q72, q85 and q102 all
    * consume the IDENTICAL pair set, so a suite session computes the
    * signature+band pipeline once instead of three times (the round-7
    * plan audit measured ~2 s of pure recompute at sf0.1). The result is
    * already persisted+materialized by `minHashNearDups`; the cache owns
    * that handle — consumers must NOT run it through `withPairs` (the
    * unpersist would silently de-cache it for the next query). Bounded:
    * one small-by-LSH-design pair table per scale dir. Long-lived
    * sessions that are done with dedup call [[Tables.clearPairCache]]. */
  def documentNearDupPairs: DataFrame =
    Tables.memo(spark, dir, "pairs") { () =>
      CacheDiscipline.stored(
        Dedup.minHashNearDups(documents, col("doc_id"), col("text")))
    }

  /** The RESOLVED component table `(id, rep)` over
    * [[documentNearDupPairs]]: q57, q85, q106 and q109 all consume the
    * identical clustering, so a suite session runs the iterative
    * connectedComponents ONCE instead of four times (the round-8 bench
    * measured ~4.5 s of pure CC recompute at sf0.1).
    * `connectedComponents` materializes its result through per-round
    * `localCheckpoint`s, but that storage is invisible to
    * `DataFrame.storageLevel` (cacheManager-based), so the memo persists
    * an explicit handle on top. q72 deliberately stays OFF this memo:
    * its point is re-resolving the same pair table through the
    * independent large-star/small-star algorithm. */
  def documentNearDupComponents: DataFrame =
    Tables.memo(spark, dir, "components") { () =>
      CacheDiscipline.stored(Dedup.connectedComponents(documentNearDupPairs))
    }

  /** Shared TRAINED CENTROIDS (k = 8, 2 Lloyd rounds over the embeddings):
    * q165 (silhouette), q168 (ARI) and q169 (NMI) all audit the IDENTICAL
    * trained clustering, so a suite session runs the two
    * broadcast-assignment Lloyd passes once instead of three times (the
    * r16 bench sweep measured ~2 s of pure recompute per consumer at
    * sf0.1). q142 deliberately stays OFF the memo (it IS the gate for the
    * training computation) and so does q160 (it gates the
    * k-means‖-seeded composition, a different trajectory). */
  def embeddingCentroids8: DataFrame =
    Tables.memo(spark, dir, "centroids8") { () =>
      CacheDiscipline.stored(Similarity.trainCentroids(
        embeddings.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")),
        k = 8, iters = 2, dim = 64))
    }

  /** Shared HASHED FEATURE-PAIR table at dims = 32
    * ([[graft.operators.TextAnalysis.hashedFeaturePairs]] over the full
    * corpus): q141 (training AND its `doc_id % 20 == 7` scoring slice —
    * per-id rows, so the slice is a plain filter of this table) and q147
    * (all five one-vs-rest langid models) featurize the IDENTICAL corpus
    * at the identical dims, so a suite session pays the tokenize+hash
    * explode once instead of three times. */
  def hashedFeaturePairs32: DataFrame =
    Tables.memo(spark, dir, "fp32") { () =>
      CacheDiscipline.stored(TextAnalysis.hashedFeaturePairs(
        documents, col("doc_id"), col("text"), dims = 32))
    }

  /** Shared BIGRAM-LM CROSS-ENTROPY scores
    * ([[graft.operators.TextAnalysis.bigramCrossEntropy]] over the full
    * corpus, target = `lang = 'en'`): q117 (the score gate) and q137 (the
    * CCNet bucketing downstream) consume the IDENTICAL trained-LM scoring
    * chain — two corpus explodes + two vocab aggregates + the scoring
    * joins — so a suite session runs it once instead of twice. Bounded:
    * one (id, n_bigrams, ce) row per doc. */
  def bigramCeScores: DataFrame =
    Tables.memo(spark, dir, "bigramCe") { () =>
      CacheDiscipline.stored(TextAnalysis.bigramCrossEntropy(
        documents, col("doc_id"), col("text"),
        isTarget = col("lang") === "en"))
    }
}

object Tables {

  /** One shared suite-level input: the leg name Bench times its build
    * under, the gated queries that consume it, and the build itself. */
  final case class Shared(leg: String, consumers: Set[String], build: Tables => Any)

  /** Every shared input, in dependency order (the component table reads
    * the pair table). Bench times each build as its own leg, BEFORE any
    * consumer, and times the consumers against the warm memos — timing a
    * consumer cold would charge it the whole shared build (r10 reported
    * q102 at 5.89 s for a 0.37 s query that way). A new memo that is not
    * listed here is mis-timed. */
  val shared: Seq[Shared] = Seq(
    Shared("shared_pair_table",
      Set("q72_dedup_clusters_stars", "q85_cluster_audit", "q102_source_dup_matrix"),
      _.documentNearDupPairs),
    Shared("shared_component_table",
      Set("q57_dedup_clusters", "q85_cluster_audit", "q106_keep_one_census",
        "q109_keep_best"),
      _.documentNearDupComponents),
    Shared("shared_centroid_table",
      Set("q165_silhouette", "q168_adjusted_rand", "q169_nmi"),
      _.embeddingCentroids8),
    Shared("shared_classifier_weights",
      Set("q135_classifier_train", "q138_pr_curve", "q143_calibration",
        "q154_roc_auc", "q178_isotonic_calibration", "q181_quantile_transform",
        "q186_quantile_binned"),
      PipelineQueries.sharedClassifierWeights),
    Shared("shared_hashed_fp32",
      Set("q141_hashed_classifier", "q147_trained_langid"),
      _.hashedFeaturePairs32),
    Shared("shared_bigram_ce",
      Set("q117_bigram_lm_ce", "q137_ccnet_buckets"),
      _.bigramCeScores),
    Shared("shared_bpe_merges",
      Set("q126_bpe_train", "q127_bpe_apply"),
      PipelineQueries.sharedBpeMerges8))

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  /** Shared (session, dir, kind)-keyed memo for the suite-level inputs in
    * [[shared]]: persisted DataFrames and small driver-side values (the
    * q135-family classifier weights, the BPE merge list). A DataFrame
    * whose persist was cleared externally (`catalog.clearCache()`) is
    * discarded and rebuilt, so consumers can never silently run against
    * an unpersisted multi-consumer plan. Self-evicting: entries belonging
    * to a STOPPED SparkSession are purged on every call, so a long-lived
    * JVM that churns sessions (test suites) cannot leak stopped sessions'
    * values through this map. */
  private[graft] def memo[T <: AnyRef](spark: SparkSession, dir: String, kind: String)(
      build: () => T): T = memos.synchronized {
    // NOT ConcurrentHashMap.compute: the components build re-enters this
    // memo for its pair-table input, and compute() is non-reentrant
    // (recursive-update). A monitor is reentrant, and still gives the
    // build-once-per-key guarantee across threads.
    memos.keySet.forEach { k =>
      if (k._1.sparkContext.isStopped) { memos.remove(k); () }
    }
    val key = (spark, dir, kind)
    def rebuild(): T = { val built = build(); memos.put(key, built); built }
    memos.get(key) match {
      case null => rebuild()
      case ds: Dataset[_] if ds.storageLevel == StorageLevel.NONE => rebuild()
      case v => v.asInstanceOf[T]
    }
  }

  /** Release every memoized input (see [[shared]]): DataFrames are
    * unpersisted, driver-side values dropped, so the next access
    * rebuilds. */
  def clearPairCache(): Unit = memos.synchronized {
    memos.values.forEach {
      case ds: Dataset[_] => ds.unpersist(blocking = false); ()
      case _ => ()
    }
    memos.clear()
  }

  /** Per-directory memo of the probed `events.ts` physical layout (true =
    * TIMESTAMP(NANOS)). One driver-side footer read per dir per JVM; the
    * file's physical type can't change under a running JVM (the driver
    * regenerates testdata only between rounds). */
  private val eventsNanosByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Probe whether `$dir/events.parquet` stores `ts` as TIMESTAMP(NANOS).
    * Under `nanosAsLong=true`, Spark's footer-based schema inference
    * surfaces a nanos column as LongType and a micros column as
    * TimestampType — a cheap, codec-level discriminator. */
  def eventsTsIsNanos(spark: SparkSession, dir: String): Boolean =
    eventsNanosByDir.computeIfAbsent(dir, _ => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // a scale dir holds events.parquet among other tables; a stream dir
      // IS the events directory (arbitrary file names) — probe accordingly
      val path =
        if (new java.io.File(s"$dir/events.parquet").exists()) s"$dir/events.parquet"
        else dir
      val inferred = spark.read.parquet(path).schema
      inferred("ts").dataType == LongType
    })

  /** Nanos-era physical schema: `ts` read as raw long under `nanosAsLong`.
    * (lazy: `schemas` is declared below — avoids an init-order null). */
  lazy val eventsSchemaNanos: StructType = StructType(schemas("events").map {
    case f if f.name == "ts" => f.copy(dataType = LongType)
    case f                   => f
  })

  /** The canonical `events` view over a directory: ts is TimestampType at
    * microsecond precision regardless of the file's physical layout
    * (probed — see [[eventsTsIsNanos]]). */
  def eventsView(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    if (eventsTsIsNanos(spark, dir)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.schema(eventsSchemaNanos).parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    } else spark.read.schema(schemas("events")).parquet(path)
  }

  /** Streaming twin of [[eventsView]]: a file-source stream over a
    * directory of events parquet, ts normalized identically. The probe
    * runs on the same dir (batch footer read) before the stream starts —
    * but only when a parquet file already exists there: on a still-empty
    * stream directory (files arriving after start) batch schema
    * inference would throw, so the stream falls back to the pinned
    * micros schema (the current generator layout) WITHOUT memoizing, and
    * a later call re-probes once files exist. Limitation (of the probe
    * design, not this fallback): the layout is resolved per directory,
    * so a dir that mixes nanos- and micros-era files would read the
    * minority layout wrong — the driver regenerates testdata whole-dir
    * between rounds, which is exactly the supported shape. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val hasParquet = {
      val fs = new java.io.File(dir).listFiles()
      fs != null && fs.exists(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    if (hasParquet && eventsTsIsNanos(spark, dir)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.readStream.schema(eventsSchemaNanos).parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    } else spark.readStream.schema(schemas("events")).parquet(dir)
  }

  /** Schema-drift guard: diff every pinned schema against the actual
    * parquet footers under `dir` and fail LOUDLY, naming each divergent
    * column with both types, instead of letting a silently-changed file
    * compute garbage (round 9 lost 11 correctness rows to exactly that:
    * `events.ts` flipped TIMESTAMP(NANOS) → timestamp[us] and the stale
    * nanos view read 2024 data as 1970). Field comparison is by name +
    * dataType, ignoring nullability/metadata; extra columns in the file
    * are fine (pruned), missing ones are drift. One footer read per
    * table — call once per run (Verify does), not per query. */
  def assertSchemasMatch(spark: SparkSession, dir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val diffs = schemas.keys.toSeq.sorted.flatMap { name =>
      val actual = spark.read.parquet(s"$dir/$name.parquet").schema
      val pinned =
        if (name == "events" && eventsTsIsNanos(spark, dir)) eventsSchemaNanos
        else schemas(name)
      // TIMESTAMP vs TIMESTAMP_NTZ is not drift: the testdata stores NTZ
      // (isAdjustedToUTC=false) and the pinned TimestampType read is
      // bit-identical under the mandated UTC session timezone.
      def norm(dt: DataType): DataType = dt match {
        case TimestampNTZType => TimestampType
        case other            => other
      }
      pinned.flatMap { f =>
        actual.fields.find(_.name == f.name) match {
          case None =>
            Some(s"$name.${f.name}: pinned ${f.dataType.sql}, MISSING from file")
          case Some(a) if norm(a.dataType) != norm(f.dataType) =>
            Some(s"$name.${f.name}: pinned ${f.dataType.sql}, file has ${a.dataType.sql}")
          case _ => None
        }
      }
    }
    if (diffs.nonEmpty) throw new IllegalStateException(
      s"schema drift between pinned Tables.schemas and parquet files in $dir:\n  " +
        diffs.mkString("\n  "))
  }

  /** Pinned logical schemas (FIXTURES.md). `events.ts` is TimestampType —
    * the canonical view type; nanos-era files go through
    * [[eventsSchemaNanos]] + a DIV-1000 normalization instead (see
    * [[eventsView]]). */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
  )
}
