package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Cluster}

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  // two clearly separated 2-D clusters; ids 0/1 seed the two centroids
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.0f, 1.0f), 1),
    (2L, Array(0.9f, 0.1f), 0),
    (3L, Array(0.1f, 0.9f), 1),
    (4L, Array(0.95f, 0.05f), 0),
    (5L, Array(0.05f, 0.95f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("kmeansAssign separates well-separated clusters") {
    val out = Cluster.kmeansAssign(vecs, "vec_id", "embedding",
      k = 2, iters = 2).collect()
    assert(out.length == 6)
    val byId = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(0L) == byId(2L) && byId(2L) == byId(4L))
    assert(byId(1L) == byId(3L) && byId(3L) == byId(5L))
    assert(byId(0L) != byId(1L))
    // every reported cosine is high: each point sits near its centroid
    assert(out.forall(_.getDouble(2) > 0.95))
  }

  test("assign picks the argmax centroid with deterministic ties") {
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Cluster.assign(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1))
    // exact tie (diagonal vector) breaks to the LOWER cell id
    val tied = Seq((9L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val t = Cluster.assign(tied, "vec_id", "embedding", cents).collect()
    assert(t.head.getInt(1) == 0)
  }

  test("semDedup drops higher-id in-cell near-duplicates only") {
    // 2 and 4 are near-dups of 0 (cos > 0.99); 3/5 near-dups of 1
    val out = Cluster.semDedup(vecs, "vec_id", "embedding",
      k = 2, iters = 2, minCosine = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 6, "one row per input vector")
    assert(out(0L) && out(1L), "lowest ids always kept")
    assert(!out(2L) && !out(4L), "near-dups of 0 dropped")
    assert(!out(3L) && !out(5L), "near-dups of 1 dropped")
    // with an impossible threshold nothing is dropped
    val none = Cluster.semDedup(vecs, "vec_id", "embedding",
      k = 2, iters = 2, minCosine = 1.5)
      .collect().map(_.getBoolean(2))
    assert(none.forall(identity))
  }

  test("semDedup pair space never crosses cells") {
    // opposite-cell twins: identical direction, different cells → kept.
    // 0/1 seed the cells; 6 is a DUP of 0's direction but must compare
    // only within its own (0's) cell — 1's cell members stay untouched
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (6L, Array(1.0f, 0.0f)),
      (7L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Cluster.semDedup(df, "vec_id", "embedding",
      k = 2, iters = 1, minCosine = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out(0L)._2 && out(1L)._2)
    assert(!out(6L)._2 && !out(7L)._2)
    assert(out(0L)._1 == out(6L)._1 && out(1L)._1 == out(7L)._1)
    assert(out(0L)._1 != out(1L)._1)
  }

  test("labelOutliers flags the farthest tail per label, at least one") {
    // label 0: tight cluster around (1,0) plus one far vector (id 8)
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.98f, 0.02f), 0),
      (4L, Array(0.99f, 0.01f), 0),
      (8L, Array(0.0f, 1.0f), 0),
      (1L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.02f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Cluster.labelOutliers(df, "vec_id", "embedding", "label",
      frac = 0.05).collect()
    // frac*n < 1 for both labels → exactly one outlier each
    assert(out.length == 2)
    val byLabel = out.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLabel(0) == 8L, "the off-cluster vector is label 0's outlier")
    assert(out.forall(_.getInt(3) == 1))
  }

  test("semDedup and kmeansAssign are partition-count independent") {
    val e = Tables.embeddings(spark, sf0001)
    def sd(df: org.apache.spark.sql.DataFrame) =
      Cluster.semDedup(df, "vec_id", "embedding", k = 4, iters = 2,
        minCosine = 0.3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
        .toSet
    assert(sd(e) == sd(e.repartition(13)))
    def ka(df: org.apache.spark.sql.DataFrame) =
      Cluster.kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSet
    assert(ka(e) == ka(e.repartition(7)))
  }

  test("kmeansAssign agrees with trainCentroids + assign composition") {
    val e = Tables.embeddings(spark, sf0001)
    val composed = Cluster.assign(e, "vec_id", "embedding",
      Ann.trainCentroids(e, "vec_id", "embedding", k = 4, iters = 2))
    val direct = Cluster.kmeansAssign(e, "vec_id", "embedding",
      k = 4, iters = 2)
    assert(direct.exceptAll(composed).isEmpty &&
      composed.exceptAll(direct).isEmpty)
  }

  test("gram: exact upper-triangle scatter sums, nulls drop, partition-proof") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 4.0f)),
      (3L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Cluster.gram(d, "embedding").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
    val out = run(df)
    // 1·1+3·3, 1·2+3·4, 2·2+4·4 — integers, so rounding is a no-op
    assert(out == Map(
      (0, 0) -> ((2L, 10.0)), (0, 1) -> ((2L, 14.0)), (1, 1) -> ((2L, 20.0))))
    assert(!out.contains((1, 0)))  // upper triangle only
    assert(run(df.repartition(5)) == out)
  }

  test("gramAgg raises on a NULL element, where the SQL form skips its products") {
    val df = spark.sql("SELECT array(1.0d, CAST(NULL AS DOUBLE)) AS v")
    val e = intercept[Exception](
      df.agg(graft.plans.GraftFunctions.gramAgg(spark, col("v"))).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("graft_gram_agg: null element at index 1")), e)
    // the SQL form: the NULL product drops out of the (0, 1) sum
    val sql = df.selectExpr(
      "SUM(CAST(ROUND(v[0] * v[0], 9) AS DECIMAL(38,9))) AS g00",
      "SUM(CAST(ROUND(v[0] * v[1], 9) AS DECIMAL(38,9))) AS g01").head()
    assert(sql.getDecimal(0).doubleValue == 1.0 && sql.isNullAt(1))
  }

  test("centroidDrift: identical halves score 1, orthogonal halves 0") {
    val df = Seq(
      (0L, Array(1.0f, 2.0f), "a"), (1L, Array(1.0f, 2.0f), "a"),
      (2L, Array(1.0f, 2.0f), "a"), (3L, Array(1.0f, 2.0f), "a"),
      (10L, Array(1.0f, 0.0f), "b"), (11L, Array(0.0f, 1.0f), "b"),
      (12L, Array(1.0f, 0.0f), "b"), (13L, Array(0.0f, 1.0f), "b")
    ).toDF("vec_id", "embedding", "label")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Cluster.centroidDrift(d, "vec_id", "embedding", "label")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val out = run(df)
    assert(out == Map(
      "a" -> ((2L, 2L, 1.0)),   // halves identical → cosine exactly 1
      "b" -> ((2L, 2L, 0.0)))) // even ids ⊥ odd ids → cosine 0
    assert(run(df.repartition(5)) == out)
  }

  test("gram feeds a metadata-sized eigen solve: anisotropic cloud's top axis") {
    // points along the (1,1) diagonal — the top principal axis is
    // (1,1)/√2; the distributed artifact is the 3-cell Gram table, the
    // eigen solve is a driver-side power iteration on it
    val df = Seq(1.0f, 2.0f, -1.0f, 3.0f, 0.5f)
      .zipWithIndex.map { case (v, i) => (i.toLong, Array(v, v)) }
      .toDF("vec_id", "embedding")
    val cells = graft.operators.Cluster.gram(df, "embedding").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val g = Array(
      Array(cells((0, 0)), cells((0, 1))),
      Array(cells((0, 1)), cells((1, 1))))
    var v = Array(1.0, 0.0)
    (1 to 25).foreach { _ =>
      val w = Array(g(0)(0) * v(0) + g(0)(1) * v(1),
        g(1)(0) * v(0) + g(1)(1) * v(1))
      val n = math.sqrt(w(0) * w(0) + w(1) * w(1))
      v = Array(w(0) / n, w(1) / n)
    }
    val inv = 1.0 / math.sqrt(2.0)
    assert(math.abs(v(0) - inv) < 1e-9 && math.abs(v(1) - inv) < 1e-9)
  }
}
