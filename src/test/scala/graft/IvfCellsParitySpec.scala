package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ColumnFns, IvfCells}
import graft.operators.Similarity
import graft.operators.Similarity.IvfPivot

/** `graft_ivf_cells` must rank pivots cell-for-cell like the relational
  * form it replaced ([[Similarity.ivfCellsAlgebra]]): exact score ties
  * to the smaller pivot id, n = 1 (array_min) and n = nProbe (array_sort
  * + slice), zero norms under both ANSI settings, and scores that sit on
  * a decimal-6 half-way point, where the kernel's fast rounding must
  * defer to the Cast's decimal rendering. Every comparison runs twice:
  * over a local relation (the optimizer folds the projection, so the
  * interpreted `eval` runs) and over a repartitioned frame (generated
  * code). */
class IvfCellsParitySpec extends AnyFunSuite with SharedSpark {

  private def pivotsOf(vecs: Seq[(Long, Seq[Double])]): Seq[IvfPivot] =
    vecs.map { case (id, pv) =>
      IvfPivot(id, pv, java.lang.Double.valueOf(math.sqrt(pv.foldLeft(0.0)((s, x) => s + x * x))))
    }

  private def frames(rows: Seq[(Long, Seq[Double])]): Seq[DataFrame] = {
    import spark.implicits._
    val v = rows.toDF("vec_id", "v").withColumn("nrm", ColumnFns.norm(col("v")))
    Seq(v, v.repartition(2))
  }

  private def cellsOf(df: DataFrame, c: org.apache.spark.sql.Column): Map[Long, Seq[Long]] =
    df.select(col("vec_id"), c).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Kernel vs algebra on every frame; returns the kernel's cells. */
  private def compare(rows: Seq[(Long, Seq[Double])], pivots: Seq[IvfPivot],
                      n: Int): Map[Long, Seq[Long]] = {
    val all = frames(rows).map { df =>
      val native = cellsOf(df, Similarity.ivfCells(pivots, n))
      val algebra = cellsOf(df, Similarity.ivfCellsAlgebra(pivots, n))
      assert(native.size === rows.size)
      assert(native === algebra, s"n=$n")
      native
    }
    assert(all.distinct.size === 1)
    all.head
  }

  private def gaussian(rnd: scala.util.Random, dim: Int): Seq[Double] =
    Seq.fill(dim)(rnd.nextGaussian())

  test("random vectors: 32 and 128 pivots, n = 1 and n = nProbe") {
    val rnd = new scala.util.Random(17)
    val rows = (0L until 300L).map(id => id -> gaussian(rnd, 64))
    Seq(32, 128).foreach { k =>
      val pivots = pivotsOf((0 until k).map(i => (1000L + i) -> gaussian(rnd, 64)))
      val one = compare(rows, pivots, 1)
      val probe = compare(rows, pivots, 8)
      assert(one.values.forall(_.size == 1) && probe.values.forall(_.size == 8))
      rows.foreach { case (id, _) => assert(probe(id).head === one(id).head) }
      // more cells than pivots: every pivot, ranked
      assert(compare(rows.take(20), pivots, k + 5).values.forall(_.size == k))
    }
  }

  test("exact score ties break to the smaller pivot id, in either pivot order") {
    val rnd = new scala.util.Random(3)
    val rows = (0L until 50L).map(id => id -> gaussian(rnd, 8))
    val shared = gaussian(rnd, 8)
    // ids 9 and 4 hold the same vector (scores tie exactly); 6 holds it
    // doubled (the same cosine through a different norm)
    val pivots = pivotsOf(Seq(9L -> shared, 2L -> gaussian(rnd, 8),
      4L -> shared, 6L -> shared.map(_ * 2), 7L -> gaussian(rnd, 8)))
    Seq(pivots, pivots.reverse).foreach { ps =>
      val cells = compare(rows, ps, 5)
      cells.values.foreach { c =>
        val at = c.indexOf(4L)
        assert(c.slice(at, at + 3) === Seq(4L, 6L, 9L), c)
      }
      compare(rows, ps, 1)
    }
  }

  test("zero norms: null scores sort first without ANSI, DIVIDE_BY_ZERO under it") {
    val rnd = new scala.util.Random(5)
    val rows = (1L to 30L).map(id => id -> gaussian(rnd, 4)) :+ (0L -> Seq.fill(4)(0.0))
    val pivots = pivotsOf((10L to 15L).map(id => id -> gaussian(rnd, 4)))
    val zeroPivot = pivots :+ IvfPivot(20L, Seq.fill(4)(0.0), java.lang.Double.valueOf(0.0))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      // the zero row scores every pivot null: the smallest ids win
      assert(compare(rows, pivots, 3)(0L) === Seq(10L, 11L, 12L))
      // a zero pivot scores null for every row, so it is the best of every
      // row but the zero row, where all scores are null and ids decide
      val z = compare(rows, zeroPivot, 2)
      assert(z(0L) === Seq(10L, 11L))
      assert((z - 0L).values.forall(_.head == 20L))
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(compare(rows.filter(_._1 != 0L), pivots, 3).size === 30)
      frames(rows).foreach { df =>
        Seq(Similarity.ivfCells(pivots, 3), Similarity.ivfCellsAlgebra(pivots, 3)).foreach { c =>
          val e = intercept[Exception](df.select(c).collect())
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e.toString)
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("scores on a decimal-6 half-way point round like the Cast") {
    // rows v = (h, b, c) with a computed norm of exactly 1.0, so the
    // score against pivot (-1, 0, 0) is h itself and against (0, -1, 0)
    // is b. h = 0.xxxxxx5 renders as that decimal and the Cast rounds it
    // HALF_UP to b = h + 5e-7, tying pivot 1 (id 1 wins); rounding h's
    // binary value instead (often just below the half) would rank
    // pivot 2 first
    def nrm(v: Seq[Double]): Double = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
    val found = (100000L until 100400L).flatMap { k =>
      val h = (k + 0.5) / 1e6
      val b = (k + 1) / 1e6
      val c0 = math.sqrt(1 - h * h - b * b)
      (-20 to 20).map(i => c0 + i * math.ulp(c0))
        .find(c => nrm(Seq(h, b, c)) == 1.0).map(c => k -> Seq(h, b, c))
    }
    assert(found.size >= 50, s"only ${found.size} exact-norm rows")
    val pivots = Seq(IvfPivot(2L, Seq(-1.0, 0.0, 0.0), java.lang.Double.valueOf(1.0)),
      IvfPivot(1L, Seq(0.0, -1.0, 0.0), java.lang.Double.valueOf(1.0)))
    val cells = compare(found, pivots, 1)
    assert(cells.values.forall(_ == Seq(1L)))
    // the case is live: rounding the binary value of h disagrees with
    // the Cast on some of these rows
    assert(found.exists { case (_, v) =>
      new java.math.BigDecimal(v.head).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue() != v(1) })
  }

  test("n < 1 and a per-row pivot set are analysis errors") {
    val df = frames(Seq(1L -> Seq(1.0, 0.0))).head
    val pivots = pivotsOf(Seq(2L -> Seq(0.0, 1.0)))
    intercept[org.apache.spark.sql.AnalysisException](df.select(Similarity.ivfCells(pivots, 0)))
    intercept[org.apache.spark.sql.AnalysisException](df.select(
      call_function("graft_ivf_cells", col("v"), col("nrm"),
        array(struct(col("vec_id"), col("v"), col("nrm"))), lit(1))))
  }

  test("fast rounding == Spark's decimal(38, 6) Cast, near half-way points and at random") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val near = (0 until 2000).flatMap { _ =>
      val k = rnd.nextInt(2000000) - 1000000
      val h = (k + 0.5) / 1e6
      (-3 to 3).map(i => h + i * math.ulp(h))
    }
    val spread = Seq.fill(20000)(rnd.nextDouble() * 4 - 2) ++
      Seq(0.0, -0.0, 1e-9, -1e-9, 15.9999995, 16.0000005, 1e30, Double.NaN,
        Double.PositiveInfinity)
    val qs = (near ++ spread).zipWithIndex
    val df = qs.toDF("q", "i").repartition(2)
      .select(col("i"), ColumnFns.decRound(col("q"), 6).as("r"))
    val cast = df.collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    qs.foreach { case (q, i) =>
      val got = IvfCells.round6(q, failOnError = false)
      assert(java.lang.Double.compare(got, cast(i)) == 0 ||
        (got.isNaN && cast(i).isNaN), s"q = $q: kernel $got, cast ${cast(i)}")
    }
  }
}
