package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HyperLogLogSpec extends SparkSpec {
  import spark.implicits._

  private def registers(values: Seq[String], parts: Int): Seq[Int] =
    values.toDF("k").repartition(parts)
      .agg(expr("hll_registers(k, 8, 77)").as("r"))
      .as[Seq[Int]].collect().head

  /** Scala reference: the exact update rule the aggregate documents. */
  private def reference(values: Seq[String]): Seq[Int] = {
    val regs = new Array[Int](256)
    values.distinct.foreach { v =>
      val h = Md5Prefix60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"77:$v"))
      val idx = (h % 256).toInt
      val w = h / 256
      val rho = if (w == 0L) 53 else java.lang.Long.numberOfTrailingZeros(w) + 1
      if (rho > regs(idx)) regs(idx) = rho
    }
    regs.toSeq
  }

  test("registers match the documented update rule exactly") {
    val vs = (1 to 500).map(i => s"user-$i")
    assert(registers(vs, 1) == reference(vs))
  }

  test("merge law: any partitioning produces identical registers") {
    val vs = (1 to 2000).map(i => s"u$i") ++ (1 to 500).map(i => s"u$i")
    assert(registers(vs, 1) == registers(vs, 16))
  }

  test("duplicates do not move registers (distinct-ness)") {
    val once = registers((1 to 300).map(i => s"x$i"), 4)
    val many = registers(
      (1 to 300).flatMap(i => Seq.fill(7)(s"x$i")), 4)
    assert(once == many)
  }

  test("estimate lands in the theoretical error band at n >> m") {
    // sigma = 1.04/sqrt(256) = 6.5%; 4 sigma = 26%
    val n = 20000
    val regs = reference((1 to n).map(i => s"v$i"))
    val zfp = regs.map(r => 1L << (40 - math.min(r, 40))).sum
    val est = (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 *
      1099511627776.0 / zfp.toDouble
    assert(math.abs(est - n) / n < 0.26, s"estimate $est for $n")
  }

  test("small-range branch: linear counting is near-exact at n << m") {
    val n = 30
    val regs = reference((1 to n).map(i => s"s$i"))
    val zeros = regs.count(_ == 0)
    val est = 256.0 * math.log(256.0 / zeros)
    assert(zeros > 0 && math.abs(est - n) / n < 0.2, s"lc estimate $est")
  }

  test("nulls are skipped") {
    val withNulls = Seq(Some("a"), None, Some("b"), None)
      .toDF("k")
      .agg(expr("hll_registers(k, 8, 77)")).as[Seq[Int]].collect().head
    assert(withNulls == reference(Seq("a", "b")))
  }
}
