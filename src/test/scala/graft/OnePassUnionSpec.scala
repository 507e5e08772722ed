package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import graft.plans.OnePassUnion

class OnePassUnionSpec extends SparkSpec {
  import spark.implicits._

  private def fused(df: DataFrame): LogicalPlan =
    OnePassUnion(df.queryExecution.analyzed)
  private def unions(p: LogicalPlan) = p.collect { case u: Union => u }
  private def expands(p: LogicalPlan) = p.collect { case e: Expand => e }
  /** A frame's rows as a bag (row → multiplicity). */
  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def stays(df: DataFrame): Unit = {
    val p = df.queryExecution.analyzed
    assert(OnePassUnion(p) eq p, OnePassUnion(p))
    assert(OnePassUnion.onePass(df) eq df)
  }

  // ---- the random branch grammar: int columns a, b with NULLs --------
  private val ks = Gen.choose(-2, 6)
  private val atom: Gen[Column] = Gen.oneOf(
    Gen.const(col("a")), Gen.const(col("b")), ks.map(lit(_)),
    Gen.const(lit(null).cast("int")))
  private val term: Gen[Column] = for {
    x <- atom; y <- atom
    op <- Gen.oneOf[(Column, Column) => Column](
      (l: Column, r: Column) => l + r, (l: Column, r: Column) => l * r,
      (l: Column, r: Column) => l - r, (l: Column, r: Column) => coalesce(l, r),
      (l: Column, _: Column) => l)
  } yield op(x, y)
  private val pred: Gen[Column] = for {
    x <- term; y <- term; z <- term; k <- ks
    p1 <- Gen.oneOf[Column](x > y, x === y, x.isNull, x <=> k, x % 2 === 0)
    p2 <- Gen.oneOf[Column](z < k, z.isNotNull, lit(true), z >= y)
    op <- Gen.oneOf[(Column, Column) => Column](
      (l: Column, r: Column) => l && r, (l: Column, r: Column) => l || r,
      (l: Column, _: Column) => l)
  } yield op(p1, p2)
  /** One branch over `base`: a filter, a two-column projection, and
    * maybe a filter on a passed-through column and a second projection. */
  private val branch: Gen[DataFrame => DataFrame] = for {
    f <- pred; x <- term; y <- term
    g <- Gen.option(Gen.choose(-1, 4))
  } yield { (base: DataFrame) =>
    val p = base.where(f)
      .select(x.cast("int").as("x"), y.cast("int").as("y"), col("b").as("b0"))
    g.fold(p)(k => p.where(coalesce(col("b0"), lit(0)) <= k))
      .select(col("x"), col("y"))
  }
  private val rows: Gen[Seq[(Option[Int], Option[Int])]] = {
    val v = Gen.frequency(3 -> Gen.choose(-3, 5).map(Option(_)),
      1 -> Gen.const(Option.empty[Int]))
    for {
      distinct <- Gen.listOfN(8, Gen.zip(v, v))
      picks <- Gen.listOfN(24, Gen.choose(0, 7))
    } yield picks.map(distinct) // duplicate rows by construction
  }

  test("fused union equals the plain union as a bag, over random branches") {
    val prop = Prop.forAllNoShrink(rows, Gen.choose(2, 3), Gen.listOfN(3, branch),
      Gen.oneOf(true, false)) { (rs, n, bs, deep) =>
      val base0 = rs.toDF("a", "b")
      // a shared base one projection above the relation, or the relation
      val base = if (deep) base0.withColumn("a", col("a") + col("b") % 2)
        else base0
      val u = bs.take(n).map(_(base)).reduce(_ unionByName _)
      val f = fused(u)
      val once = OnePassUnion.onePass(u)
      Prop(unions(f).isEmpty && expands(f).size == 1) :| s"not fused: $f" &&
        Prop(OnePassUnion(f) == f) :| "not idempotent" &&
        Prop(bag(once) == bag(u)) :| s"bags differ: ${bag(once)} vs ${bag(u)}"
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("a stacked filter's guard still shields the filter above it under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val base = Seq(("7", 0, 3), ("12", 2, 9), ("x1", 0, 0), ("3", 3, 7),
      ("x1", 4, 8), ("12", 2, 9)).toDF("s", "d", "a")
    // each branch: a guard, then a filter that raises on the rows the
    // guard drops (CAST_INVALID_INPUT, DIVIDE_BY_ZERO)
    val cast = base.where(col("s").rlike("^[0-9]+$"))
      .where(col("s").cast("int") > 5).select(col("s"), col("a"))
    val div = base.where(col("d") =!= 0).select(col("s"), col("a"), col("d"))
      .where(col("a") / col("d") > 1).select(col("s"), col("a"))
    val u = cast.unionByName(div)
    val f = fused(u)
    assert(unions(f).isEmpty && expands(f).size == 1, f)
    assert(bag(OnePassUnion.onePass(u)) == bag(u))
    assert(bag(u) == Map(Row("7", 3) -> 1, Row("12", 9) -> 4, Row("3", 7) -> 1,
      Row("x1", 8) -> 1))
  }

  test("the branches' disjunction sits below the Expand and prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-onepass-pruned").toString
    spark.range(60).select(col("id"), (col("id") % 6).as("p"))
      .write.partitionBy("p").parquet(s"$dir/t")
    val base = spark.read.parquet(s"$dir/t")
    val u = base.where(col("p") === 1).select(col("id"))
      .unionByName(base.where(col("p") === 4 && col("id") > 30).select(col("id") * 2 as "id"))
    val once = OnePassUnion.onePass(u)
    val opt = once.queryExecution.optimizedPlan
    val below = opt.collect { case e: Expand => e.child }.flatMap(_.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c })
    assert(below.nonEmpty, opt)
    assert(bag(once) == bag(u))
    object helper extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = helper.collect(once.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    // partitions 1 and 4 only: 20 of the 60 rows
    assert(scans.head.metrics("numOutputRows").value == 20)
  }

  test("a rand() base stays a Union") {
    val base = spark.range(20).withColumn("r", rand(7))
    stays(base.where(col("r") > 0.5).unionByName(base.where(col("id") > 3)))
  }

  test("branches over different bases stay a Union") {
    stays(spark.range(10).toDF().where(col("id") > 2)
      .unionByName(spark.range(20).toDF().where(col("id") < 5)))
  }

  test("a chain that would inline a non-cheap alias twice stays a Union") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val base = spark.range(10)
      .select(to_json(struct(col("id").as("a"), (col("id") * 2).as("b"))).as("line"))
    // from_json sits above the shared base and feeds a filter and a
    // projection of each branch
    def branch(keep: Column, tagged: Int) = base
      .select(from_json(col("line"), schema).as("rec"), lit(tagged).as("t"))
      .where(keep).select(col("rec.a"), col("rec.b"), col("t"))
    stays(branch(col("rec.a") > 5, 0).unionByName(branch(col("rec.b") < 6, 1)))
  }

  test("a streaming union stays a Union") {
    val s = spark.readStream.format("rate").load()
    val u = s.where(col("value") % 2 === 0).unionByName(s.where(col("value") > 3))
    assert(u.isStreaming)
    stays(u)
  }

  test("a three-child union fuses its two children over a shared base only") {
    val shared = spark.range(30).withColumn("m", col("id") % 4)
    val u = shared.where(col("m") === 1).select(col("id"), col("m"))
      .unionByName(spark.range(5).select(col("id"), lit(9L).as("m")))
      .unionByName(shared.where(col("m") <= 2).select(col("id") * 10 as "id", col("m")))
    val f = fused(u)
    assert(expands(f).size == 1, f)
    assert(unions(f).size == 1 && unions(f).head.children.size == 2, f)
    assert(OnePassUnion(f) == f)
    val once = OnePassUnion.onePass(u)
    assert(once.columns.toSeq == u.columns.toSeq)
    assert(bag(once) == bag(u))
  }

  test("a union of the base itself with a filtered branch fuses and keeps duplicates") {
    val base = Seq(1, 1, 2, 3, 3, 3).toDF("v")
    val u = base.unionByName(base.where(col("v") >= 2))
    val f = fused(u)
    assert(unions(f).isEmpty && expands(f).size == 1, f)
    assert(bag(OnePassUnion.onePass(u)) == bag(u))
  }
}
