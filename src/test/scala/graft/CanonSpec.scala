package graft

/** Canon.g6 must replicate Python's `'%.6g'` exactly (expected strings
  * below are literal Python outputs); plus the q170 integer-canon pin
  * (r19) — a gate surface with no doubles has no engine-dependent canon. */
class CanonSpec extends SparkSpec {

  /** Distance from `u` to the nearest half-grid point of 10^-k, where a
    * scale-k round changes output. */
  private def boundaryDistance(u: Double, k: Int): Double = {
    val scaled = u * math.pow(10.0, k.toDouble)
    (0.5 - math.abs(scaled - math.rint(scaled))) / math.pow(10.0, k.toDouble)
  }

  test("g6 matches Python %.6g on representative values") {
    val cases = Seq(
      5.0 -> "5", 0.05 -> "0.05", 123456.7 -> "123457",
      1000000.0 -> "1e+06", 999999.4 -> "999999", 0.0001234567 -> "0.000123457",
      0.0000123 -> "1.23e-05", 1e20 -> "1e+20", -42.5 -> "-42.5",
      -0.0 -> "0", 0.0 -> "0", 0.3714845 -> "0.371484", 28.35 -> "28.35",
      104912.5 -> "104912",  // exact binary tie → HALF_EVEN (Java %g says 104913)
      410106.5 -> "410106",
      1.005 -> "1.005", 18157.85 -> "18157.8")
    cases.foreach { case (v, want) =>
      assert(Canon.g6(v) == want, s"g6($v)")
    }
  }

  test("q170 canon: BIGINT moments are round-semantics-immune on a boundary-value fixture") {
    import spark.implicits._
    // Every derived quotient of this fixture sits EXACTLY on a
    // round(·,6) half-boundary (mean_0 = sx/(n·1e6) = 5e-7): the pre-r19
    // gate hashed round(5e-7, 6), where scaled-double and
    // decimal-correct rounding rules are free to disagree in the
    // neighborhood — the exposure behind two consecutive driver-reds.
    // The r19 gate's canon is the integers themselves: one canonical
    // text in every engine, no float formatting anywhere.
    val df = Seq(
      (1L, Seq(0.000001, 0.000003)),
      (2L, Seq(0.0, 0.000002))).toDF("vec_id", "e")
    val m = graft.operators.Pca.covarianceMomentsExact(df, dim = 2)
      .orderBy("i", "j")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(m == Seq(
      (0L, 0L, 2L, 1L, 1L, 1L),
      (0L, 1L, 2L, 1L, 5L, 3L),
      (1L, 1L, 2L, 5L, 5L, 13L)), s"moment fixture mismatch: $m")
    // the quotient IS a boundary value (distance 0) — the class the
    // integer encoding removes from the hash path
    assert(boundaryDistance(1.0 / (2.0 * 1e6), 6) == 0.0)
    // and the integer canon is one md5 under any merge topology
    val ref = Canon.md5(graft.operators.Pca.covarianceMomentsExact(df, dim = 2))
    for (p <- Seq("1", "3")) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try assert(Canon.md5(graft.operators.Pca.covarianceMomentsExact(
        df.repartition(3), dim = 2)) == ref,
        s"q170 integer canon drifted at shuffle.partitions=$p")
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("timestamp formatting: fraction only when micros nonzero") {
    val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val t2 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:09:58.778549Z"))
    assert(Canon.value(t1) == "2024-01-01 00:00:00")
    assert(Canon.value(t2) == "2024-01-01 00:09:58.778549")
    assert(Canon.value(null) == "NULL")
  }
}
