package graft

import graft.operators.LocalFinish

/** Cap boundary of the driver-finish gate collects: at cap − 1 and cap
  * rows the bounded collect returns the frame as a flat row-major array
  * (stride = column count), at cap + 1 it returns None so the caller
  * takes the distributed path.
  */
class LocalFinishCollectSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 5L

  /** Row i carries i, 10 + i, 100 + i in columns a, b, c. */
  private def frame(n: Long) =
    (0L until n).map(i => (i, 10L + i, 100L + i)).toDF("a", "b", "c")

  private def expected(n: Long, cols: Seq[String]): Seq[Long] =
    for (i <- 0L until n; c <- cols)
      yield Map("a" -> i, "b" -> (10L + i), "c" -> (100L + i))(c)

  for (cols <- Seq(Seq("b"), Seq("a", "c"), Seq("a", "b", "c")))
    test(s"collectLongsBounded width ${cols.size}: Some at cap-1 and cap, " +
      "None at cap+1") {
      for (n <- Seq(cap - 1, cap)) {
        val got = LocalFinish.collectLongsBounded(frame(n), cap, cols: _*)
        assert(got.map(_.toSeq) === Some(expected(n, cols)), s"rows=$n")
        assert(LocalFinish.collectLongs(frame(n), cols: _*).toSeq ===
          expected(n, cols), s"unbounded rows=$n")
      }
      assert(LocalFinish.collectLongsBounded(frame(cap + 1), cap,
        cols: _*).isEmpty)
    }

  test("collectStringPairsBounded: Some at cap-1 and cap, None at cap+1") {
    def pairs(n: Long) =
      (0L until n).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    for (n <- Seq(cap - 1, cap)) {
      val got = LocalFinish.collectStringPairsBounded(pairs(n), cap,
        "src", "dst")
      assert(got.isDefined, s"rows=$n")
      val (flat, names) = got.get
      assert(flat.length == 2 * n)
      // stride 2, decoded back through the dictionary
      val decoded = flat.toSeq.map(id => names(id.toInt))
      assert(decoded === (0L until n).flatMap(i => Seq(s"n$i", s"n${i + 1}")))
      // one id per distinct string: n0 .. n(n)
      assert(names.length == n + 1)
    }
    assert(LocalFinish.collectStringPairsBounded(pairs(cap + 1), cap,
      "src", "dst").isEmpty)
  }
}
