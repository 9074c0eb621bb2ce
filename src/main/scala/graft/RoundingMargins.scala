package graft

import org.apache.spark.sql.SparkSession

/** ROUNDING-BOUNDARY FRAGILITY SWEEP (VERDICT r17 #2, systemic follow-up
  * to the q170 hash flip): every gated query hashes `%.6g`/`round(·,k)`
  * values computed from aggregates whose unrounded result can jitter
  * with partial-aggregate merge order (~n·ε relative). A value sitting
  * closer to a rounding boundary than that jitter is a latent
  * driver-red coin flip. This harness turns "hope" into a checked
  * invariant: it runs every REAL gated query (rounding on) under two
  * shuffle-partition settings — different partial counts, different
  * merge topology — and requires one identical canonical md5. An
  * order-sensitive gate fails here regardless of where its values sit.
  * The last per-scale margin report (distance of every pre-round double
  * to its rounding grid) is kept in docs/ROUNDING_MARGINS.json.
  *
  * Prints one `[margins]` line per query; exits 1 if any query is
  * hash-unstable. Usage:
  *   sbt "runMain graft.RoundingMargins [sfDir]"
  */
object RoundingMargins {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.ensureRegistered(spark)

    val only: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(re) => val r = re.r; s => r.findFirstIn(s).isDefined
      case None => _ => true
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(only)
    val unstable = names.filterNot { name =>
      val q = SparkEntry.queries(name)
      // rows SORTED before hashing (the driver's canon protocol sorts
      // rows, so a tie in a presentation order must not read as
      // instability). Cache + memo handles are dropped per run: a
      // memo-consuming gate compared against its own FIRST run's cached
      // pair/component/centroid tables would never vary the merge
      // topology of the floats inside the memo — exactly the
      // instability this check exists to catch.
      def md5At(parts: String): String = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.sharedState.cacheManager.clearCache()
        Tables.clearPairCache()
        try {
          val body = q(spark, sfDir).collect().map(Canon.row).sorted.mkString("\n")
          java.security.MessageDigest.getInstance("MD5")
            .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
        } finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
      }
      val stable = md5At("3") == md5At("31")
      println(f"[margins] $name%-32s stable=$stable")
      stable
    }
    println(s"[margins] ${names.size} queries; unstable=${unstable.size}" +
      unstable.map(" " + _).mkString)
    spark.stop()
    if (unstable.nonEmpty) sys.exit(1)
  }
}
