package kgbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Checks.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Checks.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Checks.median(Seq(7.0)) === 7.0)
    intercept[IllegalArgumentException](Checks.median(Nil))
  }

  test("scaling_eff is t(1 slot) / (slots x t(slots))") {
    assert(Checks.scalingEff(40.0, 10.0, 4) === 1.0)
    assert(Checks.scalingEff(51.0, 19.0, 4) === 51.0 / 76.0)
    intercept[IllegalArgumentException](Checks.scalingEff(0.0, 1.0, 4))
  }

  test("loop_drift compares the last third of the iterations with the first") {
    assert(Checks.loopDrift(Seq(5.0, 5.0)) === 1.0)
    assert(Checks.loopDrift(Seq(4.0, 6.0)) === 1.5)
    // thirds of six iterations: median(1, 9) over median(2, 4)
    assert(Checks.loopDrift(Seq(2.0, 4.0, 100.0, 100.0, 1.0, 9.0)) === 5.0 / 3.0)
    intercept[IllegalArgumentException](Checks.loopDrift(Seq(1.0)))
  }

  test("precision and recall against the golden set") {
    val golden = Set(1, 2, 3, 4)
    assert(Checks.precisionRecall(Set(1, 2, 3, 4), golden) === ((1.0, 1.0)))
    assert(Checks.precisionRecall(Set(1, 2, 5, 6), golden) === ((0.5, 0.5)))
    assert(Checks.precisionRecall(Set(1, 2), golden) === ((1.0, 0.5)))
    assert(Checks.passesGolden(0.95, 1.0))
    assert(!Checks.passesGolden(1.0, 0.9499))
  }

  test("result JSON carries every metric with its unit") {
    val line = Json.result(correct = true, attempted = 3, failed = 0,
      Metrics("job_s" -> (1.5, "s"), "setup_s" -> (0.25, "s")))
    assert(line === """{"correct": true, "attempted": 3, "failed": 0, "metrics": {""" +
      """"job_s": {"value": 1.5, "unit": "s"}, "setup_s": {"value": 0.25, "unit": "s"}}}""")
  }
}

class SignatureSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("kgbench-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("kgbench-wh").toString)
    .getOrCreate()

  /** Reference signature: a plain aggregate over the data at rest. */
  private def signature(df: org.apache.spark.sql.DataFrame): Sig = {
    val r = df.agg(count(lit(1)), sum(Job.rowHash(df))).collect()(0)
    Sig(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def triples(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (s"s$i", "p", s"o${i % 7}", s"doc_$i", i % 3))
      .toDF("subj", "pred", "obj", "doc_id", "span_offset")
  }

  test("signature is independent of row order and partitioning") {
    val df = triples(500)
    val sig = signature(df)
    assert(sig.rows === 500)
    assert(signature(df.repartition(7).orderBy(desc("subj"))) === sig)
    assert(signature(df.coalesce(1)) === sig)
  }

  test("the noop sink and the driver collect observe the aggregate's signature") {
    val df = triples(300)
    assert(Job.materialize(df.repartition(5)) === signature(df))
    assert(Job.collect(df.repartition(2))._1 === signature(df))
  }

  test("a corrupted triple set fails the output check") {
    val df = triples(400)
    val ref = OutputSig(signature(df), Sig(1, 1), Sig(1, 1))
    def check(t: org.apache.spark.sql.DataFrame) =
      OutputSig(Job.materialize(t), Sig(1, 1), Sig(1, 1)) == ref
    assert(check(df.repartition(3)))
    // one provenance value changed: same count, different hash
    val oneChanged = df.withColumn("doc_id",
      when(col("subj") === "s17", lit("doc_x")).otherwise(col("doc_id")))
    assert(!check(oneChanged))
    // one triple lost
    assert(!check(df.filter(col("subj") =!= "s17")))
    // one triple duplicated
    assert(!check(df.union(df.filter(col("subj") === "s17"))))
  }
}
