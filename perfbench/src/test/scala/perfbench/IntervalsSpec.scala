package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Run with `sbt test` from `perfbench/`. */
class IntervalsSpec extends AnyFunSuite {

  test("two overlapping jobs count their shared interval once") {
    // job A runs [0, 100), job B (a broadcast or subquery job) [40, 160):
    // summing their durations gives 220 ms inside a 160 ms query
    val jobs = Seq((0.0, 100.0), (40.0, 160.0))
    assert(jobs.map { case (s, e) => e - s }.sum == 220.0)
    assert(Intervals.unionMs(jobs) == 160.0)
    assert(Intervals.unionMs(jobs.reverse) == 160.0)
  }

  test("disjoint, nested and empty intervals") {
    assert(Intervals.unionMs(Seq((0.0, 10.0), (20.0, 25.0))) == 15.0)
    assert(Intervals.unionMs(Seq((0.0, 100.0), (10.0, 20.0))) == 100.0)
    assert(Intervals.unionMs(Seq((5.0, 5.0))) == 0.0)
    assert(Intervals.unionMs(Nil) == 0.0)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    // query [0, 200) with the two overlapping jobs above: 40 ms outside jobs
    assert(Intervals.selfMs(0.0, 200.0, Seq((0.0, 100.0), (40.0, 160.0))) == 40.0)
    assert(Intervals.selfMs(50.0, 100.0, Seq((0.0, 60.0), (90.0, 300.0))) == 30.0)
  }

  test("quantiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Intervals.median(xs) == 2.5)
    assert(Intervals.quantile(xs, 0.75) == 3.25)
    assert(Intervals.quantile(Nil, 0.5) == 0.0)
  }

  test("digests ignore row order and float noise below nine digits") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k STRING, v DOUBLE")
    val a = Array[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row("x", 0.1 + 0.2), org.apache.spark.sql.Row("y", 1.0))
    val b = Array[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row("y", 1.0), org.apache.spark.sql.Row("x", 0.3))
    assert(Digest.of(schema, a) == Digest.of(schema, b))
    val c = Array[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row("y", 1.0), org.apache.spark.sql.Row("x", 0.31))
    assert(Digest.of(schema, a) != Digest.of(schema, c))
  }
}
