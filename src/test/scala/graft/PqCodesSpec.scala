package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The fused PqCodesExpr (r16) against the composed HOF formulation it
  * replaced — bit-identity on normal and adversarial inputs, the
  * HashEmbed/Cosine native≡composed pattern. */
class PqCodesSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def vecDf(vecs: Seq[Seq[java.lang.Double]]) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true),
        nullable = true)))
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i.toLong, if (v == null) null else v)
    }.asJava
    spark.createDataFrame(rows, schema)
  }

  private def trainModel(): Similarity.PqModel = {
    import spark.implicits._
    val data = (0L until 64L).map { i =>
      (i, Seq.tabulate(8)(t => math.sin(i * 1.7 + t) * (t + 1)))
    }.toDF("id", "vec")
    Similarity.pqTrain(data, "id", "vec", m = 4, ksub = 4, iters = 3)
  }

  test("fused ≡ composed, bit for bit, incl. null vector / null " +
      "element / NaN element") {
    val mdl = trainModel()
    val d = (x: Double) => java.lang.Double.valueOf(x)
    // NOTE: no short vectors here — under ANSI (Spark 4 default) the
    // composed form's element_at RAISES on an out-of-bounds index, so
    // a short vector crashed the old path; the fused form's graceful
    // per-subspace -1 is pinned in its own test below.
    val vecs: Seq[Seq[java.lang.Double]] = Seq(
      Seq.tabulate(8)(t => d(0.5 * t - 1.0)),
      Seq.tabulate(8)(t => d(math.cos(t * 2.3) * 3)),
      null, // null vector → all -1 (both forms)
      Seq(d(1.0), null, d(3.0), d(4.0), d(5.0), d(6.0), d(7.0),
        d(8.0)), // null element → -1 for subspace 0 only
      Seq.tabulate(8)(t => d(if (t == 6) Double.NaN else 1.0)),
      Seq.tabulate(8)(_ => d(0.0)),
      Seq.tabulate(12)(t => d(t * 0.1)) // longer than m·dsub: extra tail ignored
    )
    val df = vecDf(vecs)
    val got = df.select(col("id"),
        Similarity.pqCodes(col("vec"), mdl).as("native"),
        Similarity.pqCodesComposed(col("vec"), mdl).as("composed"))
      .orderBy(col("id")).collect()
    got.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"row ${r.getLong(0)}: native ${r.getSeq[Int](1)} != " +
          s"composed ${r.getSeq[Int](2)}")
    }
    // the adversarial rows exercise the -1 paths explicitly
    val byId = got.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(byId(2L) === Seq(-1, -1, -1, -1))
    assert(byId(3L).head === -1 && byId(3L).tail.forall(_ >= 0))
  }

  test("short vector: fused yields -1 for the cut subspaces (the " +
      "composed form raised under ANSI — unreachable via the store " +
      "paths, which never carry ragged vectors past normalize)") {
    val mdl = trainModel()
    val d = (x: Double) => java.lang.Double.valueOf(x)
    val got = vecDf(Seq(Seq.tabulate(5)(t => d(t.toDouble))))
      .select(Similarity.pqCodes(col("vec"), mdl)).collect()
    val codes = got(0).getSeq[Int](0)
    assert(codes.length === 4)
    assert(codes.take(2).forall(_ >= 0) && codes.drop(2) === Seq(-1, -1))
  }

  test("float vectors widen exactly like the composed cast") {
    val mdl = trainModel()
    import spark.implicits._
    val df = (0L until 16L)
      .map(i => (i, Seq.tabulate(8)(t => (math.sin(i + t) * 2).toFloat)))
      .toDF("id", "vec")
    val got = df.select(
        Similarity.pqCodes(col("vec"), mdl).as("native"),
        Similarity.pqCodesComposed(col("vec"), mdl).as("composed"))
      .collect()
    got.foreach(r => assert(r.getSeq[Int](0) === r.getSeq[Int](1)))
  }

  test("deterministic across partitionings") {
    val mdl = trainModel()
    import spark.implicits._
    val rows = (0L until 50L)
      .map(i => (i, Seq.tabulate(8)(t => math.sin(i * 3.1 + t))))
    val a = rows.toDF("id", "vec")
      .select(col("id"), Similarity.pqCodes(col("vec"), mdl).as("c"))
      .orderBy("id").collect().map(_.getSeq[Int](1))
    val b = rows.toDF("id", "vec").repartition(7)
      .select(col("id"), Similarity.pqCodes(col("vec"), mdl).as("c"))
      .orderBy("id").collect().map(_.getSeq[Int](1))
    assert(a.toSeq === b.toSeq)
  }

  test("array<int> input fails analysis instead of decoding garbage") {
    val mdl = trainModel()
    import spark.implicits._
    val ints = Seq((0L, Seq.tabulate(8)(t => t * 3))).toDF("id", "vec")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(Similarity.pqCodes(col("vec"), mdl)).collect()
    }
    assert(e.getMessage.contains(
      "pq_codes requires array<float> or array<double>, got array<int>"),
      e.getMessage)
  }
}
