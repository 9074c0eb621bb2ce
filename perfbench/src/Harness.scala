package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Cli, Engine, Queries, SparkEntry, Tables}

/** The benchmark's JVM side: builds the user-facing session, sets up one
  * workload, runs timed passes through the engine's public entry points
  * and writes everything it measured (and, when traced, the op → job →
  * stage spans) as one JSON file. All arithmetic over those numbers —
  * percentiles, self time, layer attribution — lives in
  * `perfbench/analysis.py`; output checks against DuckDB live in
  * `perfbench/run.py` and `perfbench/oracle.py`. Nothing here is timed
  * while it hashes or reads back results.
  *
  *   Harness run --workload W --seed N --seconds S --trace 0|1
  *               --data DIR --work DIR --out FILE
  *   Harness canon FILE     (canonical md5 of a fixed table, for the tests)
  *   Harness oracles FILE   (every query's DuckDB oracle SQL, as JSON)
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String) {
    val nproc: Int = Runtime.getRuntime.availableProcessors
  }

  /** One timed call into the program. Times are epoch nanoseconds. */
  final class Op(val id: Int, val pass: Int, val client: Int, val name: String) {
    var start, buildEnd, end = 0L
    var rows = -1L
    var md5 = ""
    var error = ""
    @volatile var result: (StructType, Array[Row]) = null
  }

  final case class Pass(index: Int, traced: Boolean, cold: Boolean, start: Long, end: Long,
      cpuNs: Long, codegen: Long, heapBytes: Long, cacheEntries: Int, cacheMem: Long,
      cacheDisk: Long, writtenBytes: Long, stealFrac: Double, gcMs: Long, jitMs: Long,
      checks: Map[String, String])

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def main(args: Array[String]): Unit = args.toList match {
    case "canon" :: file :: Nil =>
      Files.writeString(Paths.get(file), Canonical.md5(Canonical.fixture._1, Canonical.fixture._2) + "\n")
    case "oracles" :: file :: Nil => writeJson(file, SparkEntry.oracleSql)
    case "run" :: rest => run(parse(rest))
    case _ => sys.error("usage: Harness run --workload W ... | Harness canon FILE | Harness oracles FILE")
  }

  private def parse(a: List[String]): Opts = {
    val m = a.grouped(2).collect { case k :: v :: Nil if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("work"), req("out"))
  }

  private def workloadFor(name: String): Workload = name match {
    case "declared_suite" => new DeclaredSuite
    case "plot_batch" => new PlotBatch
    case "dedup_pipeline" => new DedupPipeline
    case other => sys.error(s"unknown workload $other")
  }

  val SetupCycles = 5
  val RunCapNs = 60L * 1000000000L

  def run(o: Opts): Unit = {
    val w = workloadFor(o.workload)
    Files.createDirectories(Paths.get(o.work))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    // Set-up is repeated so its median is steady: each cycle is what a
    // fresh user process pays before its first query — session build,
    // catalog open, input registration.
    val setups = ArrayBuffer[Map[String, Long]]()
    var spark: SparkSession = null
    for (_ <- 0 until SetupCycles) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        Tables.clearPairCache()
      }
      val t0 = now()
      spark = Engine.session(master = s"local[${o.nproc}]")
      spark.sparkContext.setLogLevel("WARN")
      val t1 = now()
      Engine.open(spark, o.data)
      val t2 = now()
      w.prepare(spark, o)
      val t3 = now()
      setups += Map("session_ns" -> (t1 - t0), "open_ns" -> (t2 - t1), "inputs_ns" -> (t3 - t2))
    }
    val firstSetupNs = setups.head.values.sum
    val jvmToReadyNs = now() - jvmStart
    val tracer = new Tracer
    val passes = ArrayBuffer[Pass]()
    val ops = ArrayBuffer[Op]()
    var nextOp = 0
    def onePass(index: Int, traced: Boolean): Pass = {
      w.beforePass(spark, o)
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val host0 = hostCpu()
      val gc0 = gcMs(); val jit0 = jitMs()
      val cpu0 = os.getProcessCpuTime
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = now()
      val passOps = w.runPass(spark, o, index, nextOp)
      val end = now()
      val cpu1 = os.getProcessCpuTime
      val host1 = hostCpu()
      val gc1 = gcMs(); val jit1 = jitMs()
      val cg1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      nextOp += passOps.size
      // outside the timed window: hash results, read back outputs, GC
      passOps.foreach { op =>
        if (op.result != null) {
          op.md5 = Canonical.md5(op.result._1, op.result._2)
          op.rows = op.result._2.length.toLong
          op.result = null
        }
      }
      val checks = w.afterPass(spark, o)
      ops ++= passOps
      val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      val heap = liveHeap()
      Pass(index, traced, index == 0, start, end, cpu1 - cpu0, cg1 - cg0, heap, storage.length,
        storage.map(_.memSize).sum, storage.map(_.diskSize).sum, w.writtenBytes(o),
        (host1._2 - host0._2).toDouble / math.max(1L, host1._1 - host0._1),
        gc1 - gc0, jit1 - jit0, checks)
    }
    // The first pass runs with a cold JIT: what a process that runs one
    // batch or one suite, like a `Cli` invocation, waits for. Warm passes
    // follow until --seconds of them have run: at least one (two when
    // traced), and no new one RunCapNs after process start, so a slow host
    // shortens a run instead of stretching it. A traced run alternates
    // untraced and traced warm passes, so tracing overhead is measured on
    // the same inputs in the same, equally warm process.
    passes += onePass(0, traced = false)
    val budgetNs = (o.seconds * 1e9).toLong
    val minPasses = if (o.trace) 2 else 1
    var used = 0L
    def warm = passes.size - 1
    while (warm < minPasses || used < budgetNs && now() - jvmStart < RunCapNs) {
      val traced = o.trace && warm % 2 == 1
      if (traced) tracer.attach(spark)
      val p = onePass(passes.size, traced)
      if (traced) tracer.detach(spark)
      passes += p; used += p.end - p.start
    }
    val host = Map(
      "nproc" -> o.nproc,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "scheduler_mode" -> spark.sparkContext.getSchedulingMode.toString,
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "clients" -> w.clients(o))
    val doc = Map(
      "workload" -> o.workload, "seed" -> o.seed, "host" -> host,
      "jvm_start" -> jvmStart, "jvm_to_ready_ns" -> jvmToReadyNs, "first_setup_ns" -> firstSetupNs,
      "setups" -> setups.toSeq,
      "passes" -> passes.toSeq.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "cold" -> p.cold,
        "start" -> p.start, "end" -> p.end, "cpu_ns" -> p.cpuNs, "codegen_compiles" -> p.codegen,
        "heap_bytes" -> p.heapBytes, "cache_entries" -> p.cacheEntries,
        "cache_mem_bytes" -> p.cacheMem, "cache_disk_bytes" -> p.cacheDisk,
        "written_bytes" -> p.writtenBytes, "steal_frac" -> p.stealFrac,
        "jvm_gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs, "checks" -> p.checks)),
      "ops" -> ops.toSeq.map(op => Map(
        "id" -> op.id, "pass" -> op.pass, "client" -> op.client, "name" -> op.name,
        "start" -> op.start, "build_end" -> op.buildEnd, "end" -> op.end,
        "rows" -> op.rows, "md5" -> op.md5, "error" -> op.error)),
      "inputs" -> w.inputs(o),
      "spans" -> tracer.spans)
    spark.stop()
    writeJson(o.out, doc)
  }

  def writeJson(file: String, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(file), v)

  /** Used heap after full GCs. A GC lets Spark's ContextCleaner drop the
    * blocks of unreachable checkpoints, asynchronously, and the next GC
    * collects what that freed; so collect until the reading stops
    * falling (by under 1 MB), at most five times. */
  def liveHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var last = collect(); var next = collect(); var rounds = 2
    while (last - next > (1L << 20) && rounds < 5) { last = next; next = collect(); rounds += 1 }
    math.min(last, next)
  }

  /** Whole-JVM garbage collection and JIT compilation times so far, ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (all, steal) jiffies of the host's CPUs from /proc/stat, or zeros
    * where there is none: the share of CPU time a virtual machine's
    * hypervisor gave to other guests during a pass. */
  def hostCpu(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Runs `body` as op `op`: tags every Spark job it launches (the tag is
    * a local property, which child threads inherit) and records its
    * interval; a thrown error is recorded, not propagated. */
  def timed(spark: SparkSession, op: Op)(body: Op => Unit): Op = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, op.id.toString)
    op.start = now()
    try body(op)
    catch { case scala.util.control.NonFatal(e) => op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    finally {
      op.end = now()
      if (op.buildEnd == 0L) op.buildEnd = op.start
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
    }
    op
  }

  def phase(spark: SparkSession, p: String): Unit =
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, p)

  /** Build a query through the public entry, then collect it. */
  def queryOp(spark: SparkSession, o: Opts, q: (SparkSession, String) => DataFrame)(op: Op): Unit = {
    phase(spark, "build")
    val df = q(spark, o.data)
    op.buildEnd = now()
    phase(spark, "exec")
    val rows = df.collect()
    op.result = (df.schema, rows)
  }
}

/** One named workload: its inputs, its pass, its output checks. */
trait Workload {
  def clients(o: Harness.Opts): Int = 1
  def prepare(spark: SparkSession, o: Harness.Opts): Unit = ()
  def beforePass(spark: SparkSession, o: Harness.Opts): Unit = ()
  def runPass(spark: SparkSession, o: Harness.Opts, pass: Int, firstId: Int): Seq[Harness.Op]
  def afterPass(spark: SparkSession, o: Harness.Opts): Map[String, String] = Map.empty
  def writtenBytes(o: Harness.Opts): Long = 0L
  def inputs(o: Harness.Opts): Map[String, Any] = Map.empty
}

/** The 30 declared queries, shuffled per pass by the seed, drained from
  * one shared queue by `nproc` client threads. */
final class DeclaredSuite extends Workload {
  private val names = Queries.all.keys.toSeq.sorted
  private lazy val entries = SparkEntry.queries
  override def clients(o: Harness.Opts): Int = o.nproc

  def runPass(spark: SparkSession, o: Harness.Opts, pass: Int, firstId: Int): Seq[Harness.Op] = {
    val order = new Random(o.seed * 1000003L + pass).shuffle(names)
    val queue = new ConcurrentLinkedQueue[(String, Int)](order.zipWithIndex.asJava)
    val done = new ConcurrentLinkedQueue[Harness.Op]()
    val pool = Executors.newFixedThreadPool(o.nproc)
    try {
      val futures = (0 until o.nproc).map { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var next = queue.poll()
            while (next != null) {
              val op = new Harness.Op(firstId + next._2, pass, c, next._1)
              done.add(Harness.timed(spark, op)(Harness.queryOp(spark, o, entries(next._1))))
              next = queue.poll()
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    done.asScala.toSeq.sortBy(_.id)
  }
}

/** Cold near-duplicate pipeline: the two shared memo tables, then their
  * consumers and the standalone dedup/ANN/PMI queries in seeded order. */
final class DedupPipeline extends Workload {
  val consumers = Seq("q57_", "q72_", "q85_", "q102_", "q106_", "q109_",
    "q31_", "q33_", "q89_", "q90_", "q94_")
  private lazy val entries = SparkEntry.queries
  private lazy val names = consumers.map(p => entries.keys.find(_.startsWith(p))
    .getOrElse(sys.error(s"no query named $p*")))
  private var memoMd5 = Map.empty[String, String]

  override def beforePass(spark: SparkSession, o: Harness.Opts): Unit = {
    spark.catalog.clearCache()
    Tables.clearPairCache()
  }

  def runPass(spark: SparkSession, o: Harness.Opts, pass: Int, firstId: Int): Seq[Harness.Op] = {
    val memos = Seq[(String, Tables => DataFrame)](
      "memo:documentNearDupPairs" -> (_.documentNearDupPairs),
      "memo:documentNearDupComponents" -> (_.documentNearDupComponents))
    val built = memos.zipWithIndex.map { case ((name, f), i) =>
      Harness.timed(spark, new Harness.Op(firstId + i, pass, 0, name)) { _ =>
        Harness.phase(spark, "memo")
        f(Tables(spark, o.data))
      }
    }
    val order = new Random(o.seed * 1000003L + pass).shuffle(names)
    built ++ order.zipWithIndex.map { case (name, i) =>
      Harness.timed(spark, new Harness.Op(firstId + memos.size + i, pass, 0, name))(
        Harness.queryOp(spark, o, entries(name)))
    }
  }

  /** The memo tables have no oracle of their own (q31/q57 gate them);
    * their canonical hashes must agree across every pass of a run. */
  override def afterPass(spark: SparkSession, o: Harness.Opts): Map[String, String] = {
    val t = Tables(spark, o.data)
    val now = Map(
      "memo:documentNearDupPairs" -> t.documentNearDupPairs,
      "memo:documentNearDupComponents" -> t.documentNearDupComponents).map { case (k, df) =>
      k -> Canonical.md5(df.schema, df.collect())
    }
    if (memoMd5.isEmpty) memoMd5 = now
    now ++ Map("memo_stable" -> (now == memoMd5).toString)
  }
}

/** A shadeMS-style `--plot` batch through `Cli.run` over the MS-like
  * visibility table `datagen.py` generated from the seed into
  * `<work>/vis.parquet`. */
final class PlotBatch extends Workload {

  // the checked raster: amp vs time on a fixed 128 x 128 canvas that
  // covers the generated 24 x 8 s time span and the amplitude range
  val RasterW = 128; val RasterH = 128
  val RasterX = (0.0, 200.0); val RasterY = (0.0, 8.0)
  private var pngMd5 = Map.empty[String, String]

  private def dir(o: Harness.Opts, f: String) = s"${o.work}/$f"

  override def prepare(spark: SparkSession, o: Harness.Opts): Unit =
    spark.read.parquet(dir(o, "vis.parquet")).createOrReplaceTempView("vis")

  def argv(o: Harness.Opts): Seq[String] = {
    val amp = "sqrt(re*re + im*im)"
    val plots = Seq(
      s"x:time;y:$amp;png:${dir(o, "amp_time.png")}",
      s"x:chan;y:degrees(atan2(im, re));png:${dir(o, "phase_chan.png")}",
      s"x:u;y:v;conj:true;width:512;height:512;png:${dir(o, "uv.png")}",
      s"x:sqrt(u*u + v*v);y:$amp;colour-by:corr;png:${dir(o, "amp_uvdist_corr.png")}",
      s"x:time;y:chan;aaxis:$amp;ared:mean;png:${dir(o, "mean_amp.png")}",
      s"x:time;y:$amp;xmin:${RasterX._1};xmax:${RasterX._2};ymin:${RasterY._1};" +
        s"ymax:${RasterY._2};width:$RasterW;height:$RasterH;out:${dir(o, "raster")}")
    Seq("--dir", o.data, "--table", "vis", "--jobs", "1", "--flag-col", "flag") ++
      plots.flatMap(p => Seq("--plot", p))
  }

  private def pngs(o: Harness.Opts) =
    Seq("amp_time", "phase_chan", "uv", "amp_uvdist_corr", "mean_amp").map(n => dir(o, s"$n.png"))

  override def beforePass(spark: SparkSession, o: Harness.Opts): Unit =
    (pngs(o) :+ dir(o, "raster")).foreach(p => deleteTree(Paths.get(p)))

  def runPass(spark: SparkSession, o: Harness.Opts, pass: Int, firstId: Int): Seq[Harness.Op] = {
    Seq(Harness.timed(spark, new Harness.Op(firstId, pass, 0, "cli_plot_batch")) { op =>
      Harness.phase(spark, "plot")
      op.rows = Cli.run(argv(o), spark)
    })
  }

  override def afterPass(spark: SparkSession, o: Harness.Opts): Map[String, String] = {
    val now = pngs(o).map { p =>
      val f = Paths.get(p)
      p -> (if (Files.exists(f)) Canonical.hex(java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f))) else "missing")
    }.toMap
    if (pngMd5.isEmpty) pngMd5 = now
    val raster = spark.read.parquet(dir(o, "raster")).select("xb", "yb", "c")
    Map("png_stable" -> (now == pngMd5 && !now.values.exists(_ == "missing")).toString,
      "raster_md5" -> Canonical.md5(raster.schema, raster.collect()))
  }

  override def writtenBytes(o: Harness.Opts): Long =
    (pngs(o) :+ dir(o, "raster")).map(p => treeSize(Paths.get(p))).sum

  override def inputs(o: Harness.Opts): Map[String, Any] = Map(
    "vis_parquet" -> dir(o, "vis.parquet"), "raster_dir" -> dir(o, "raster"),
    "raster_w" -> RasterW, "raster_h" -> RasterH,
    "raster_x" -> Seq(RasterX._1, RasterX._2), "raster_y" -> Seq(RasterY._1, RasterY._2))

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else if (Files.isDirectory(p)) { val s = Files.walk(p); try s.iterator.asScala.toList finally s.close() }
    else Seq(p)
  private def treeSize(p: Path): Long = files(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  private def deleteTree(p: Path): Unit = files(p).reverse.foreach(Files.deleteIfExists)
}

/** The canonical protocol of `scripts/check.py` (columns sorted by name,
  * `%.6g` floats, µs timestamps, NULL/nan rules of a pandas parquet read,
  * rows sorted) applied to collected rows. The value rules are those of
  * `graft.Verify.canonDump`, which works on a written parquet directory
  * instead; `tests/test_analysis.py` pins this copy to `check.py`. */
object Canonical {
  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def md5(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val types = schema.fields.map(_.dataType)
    val intPromoted = types.indices.map { i =>
      types(i) match {
        case ByteType | ShortType | IntegerType | LongType => rows.exists(_.isNullAt(i))
        case _ => false
      }
    }
    def cv(i: Int, v: Any): String = v match {
      case null => types(i) match {
        case DoubleType | FloatType => "nan"
        case _ if intPromoted(i) => "nan"
        case _ => "NULL"
      }
      case d: java.lang.Double => graft.Canon.g6(d)
      case f: java.lang.Float => graft.Canon.g6(f.toDouble)
      case n: java.lang.Number if intPromoted(i) => graft.Canon.g6(n.doubleValue)
      case t: java.sql.Timestamp =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case d: java.sql.Date => s"$d 00:00:00.000000"
      case b: java.lang.Boolean => if (b) "True" else "False"
      case other => String.valueOf(other)
    }
    import scala.math.Ordering.Implicits._
    val lines = rows.map(r => order.toSeq.map(i => cv(i, r.get(i))))
      .sorted(implicitly[Ordering[Seq[String]]])
      .map(_.mkString("|"))
    hex(java.security.MessageDigest.getInstance("MD5").digest(lines.mkString("\n").getBytes("UTF-8")))
  }

  /** A small table covering the protocol's cases; `tests/test_analysis.py`
    * builds the same table in pandas and hashes it with `check.py`. */
  val fixture: (StructType, Array[Row]) = (
    StructType(Seq(StructField("name", StringType), StructField("amount", DoubleType),
      StructField("n", LongType), StructField("k", IntegerType),
      StructField("ts", TimestampType))),
    Array(
      Row("b", 104912.5, 3L, 7, java.sql.Timestamp.valueOf("2024-01-01 00:09:58.778549")),
      Row("a", -0.0, null, 1, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      Row(null, null, 12L, 2, null),
      Row("c", 1.0e-7, 5L, 3, java.sql.Timestamp.valueOf("2001-08-01 12:30:00.5"))))
}
