package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests, run with `python3 perfbench/run.py
  * --selftest`: event determinism, the replay model's semantics, the
  * tail-percentile rule and the digest's order independence. Exits
  * non-zero on the first failure.
  */
object SelfTest {
  import PosEvent._

  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    body
    passed += 1
    println(s"ok - $name")
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def stream(seed: Long): Seq[RawEvent] = {
    val g = new PosEventGen(seed, 1000, 12)
    (g.bootstrap(5, 20, 50) ++ (0 until 4).flatMap(g.tick)).map(_.raw)
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical events") {
      val a = stream(7).map(e => s"${e.topic}\t${e.value}\t${e.seq}").mkString("\n")
      val b = stream(7).map(e => s"${e.topic}\t${e.value}\t${e.seq}").mkString("\n")
      expect(java.util.Arrays.equals(a.getBytes("UTF-8"), b.getBytes("UTF-8")),
        "two streams of seed 7 differ")
    }

    test("a different seed gives different events") {
      expect(stream(7) != stream(8), "seeds 7 and 8 gave the same stream")
    }

    test("the stream uses all nine topics with increasing seq") {
      val s = stream(3)
      expect(s.map(_.topic).toSet.size == 9, s"topics: ${s.map(_.topic).toSet}")
      expect(s.map(_.seq) == s.indices.map(_.toLong), "seq is not 0, 1, 2, ...")
    }

    test("replay model: ids in seq order, edit/remove on missing keys are no-ops") {
      val s1 = Sale("2025-02-01 10:00:00", 1, 1000, 2, 5.0, 10.0, "Cash")
      val s2 = Sale("2025-02-01 11:00:00", 2, 2000, 1, 3.5, 3.5, "PayPal")
      val s3 = Sale("2025-02-02 09:00:00", 1, 1000, 4, 5.0, 20.0, "Cash")
      val m = new ReplayModel
      // delivered out of order: replay order is seq, not arrival
      m.apply(Seq(SaleInsert(1, s2), SaleInsert(0, s1)))
      expect(m.sales.toMap == Map(1L -> s1, 2L -> s2), s"ids: ${m.sales}")
      m.apply(Seq(
        SaleEdit(2, 1, s3),        // existing key: replaced
        SaleRemove(3, 2),          // existing key: removed
        SaleEdit(4, 2, s1),        // removed just before: no-op
        SaleEdit(5, 99, s1),       // never existed: no-op
        SaleRemove(6, 98),         // never existed: no-op
        SaleInsert(7, s2)))        // next id continues the counter
      expect(m.sales.toMap == Map(1L -> s3, 3L -> s2), s"after edits: ${m.sales}")
      val p = Product("a", "", "Daily", 1.0, 3)
      val q = Product("b", "d", "Daily", 2.0, 0)
      m.apply(Seq(ProductPut(8, add = false, 1001, q),   // edit of missing: no-op
        ProductPut(9, add = true, 1001, p),
        ProductPut(10, add = true, 1001, q),             // add of existing replaces
        CustomerPut(11, add = true, 5, Customer("x", "Phuket")),
        CustomerPut(12, add = false, 5, Customer("y", "Phuket")),
        CustomerRemove(13, 5),
        CustomerPut(14, add = false, 5, Customer("z", "Phuket"))))
      expect(m.products.toMap == Map(1001 -> q), s"products: ${m.products}")
      expect(m.customers.isEmpty, s"customers: ${m.customers}")
    }

    test("tail percentile keeps at least 10 samples beyond it") {
      expect(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples have no tail")
      expect(Stats.tail((1 to 11).map(_.toDouble)) == Some(9 -> 1.0), "11 samples")
      expect(Stats.tail((1 to 20).map(_.toDouble).reverse) == Some(50 -> 10.0), "20 samples")
      expect(Stats.tail((1 to 1000).map(_.toDouble)) == Some(99 -> 990.0), "1000 samples")
      (11 to 400).foreach { n =>
        val Some((_, v)) = Stats.tail((1 to n).map(_.toDouble))
        expect(n - v.toInt >= 10, s"n=$n leaves ${n - v.toInt} beyond")
        expect(n - v.toInt < 10 + math.max(1, n / 100 + 1), s"n=$n is not the highest")
      }
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try test("digest is order-independent and sees every row") {
      import spark.implicits._
      val df = (1 to 200).map(i => (i.toLong, s"r$i", i / 7.0)).toDF("k", "s", "x")
      val base = Digest.of(df)
      expect(Digest.of(df.repartition(5).orderBy($"k".desc)) == base, "reordered")
      expect(Digest.of(df.filter($"k" =!= 17)) != base, "dropped row")
      expect(Digest.of(df.union(df.filter($"k" === 17))) != base, "duplicated row")
      expect(Digest.of(df.withColumn("x", $"x" + ($"k" === 17).cast("double"))) != base,
        "altered row")
      expect(base._1 == 200, s"row count ${base._1}")
    } finally spark.stop()

    println(s"$passed tests passed")
  }
}
