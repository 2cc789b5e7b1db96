package graft.perfbench

import org.apache.spark.sql.functions._

/** Checks that the output digest ignores row order and partitioning but
  * sees every value, including nested ones and nulls. */
object DigestSelfTest {
  def run(): Boolean = {
    val spark = Runner.session(2, None, traced = false)
    import spark.implicits._
    val base = Seq(
      (1L, "a", 1.5, Seq(1, 2), Map("k" -> 1)),
      (2L, null, -0.25, Seq.empty[Int], Map.empty[String, Int]),
      (3L, "c", Double.NaN, Seq(3), Map("k" -> 3, "j" -> 4)),
      (3L, "c", Double.NaN, Seq(3), Map("k" -> 3, "j" -> 4)))
      .toDF("id", "s", "d", "arr", "m")
      .withColumn("st", struct(col("id"), col("s")))
    def digest(df: org.apache.spark.sql.DataFrame): String =
      Runner.digestOf(Runner.digestFrame(df).collect())._2
    val d0 = digest(base)
    val checks = Seq(
      "reversed order" -> (digest(base.orderBy(col("id").desc)) == d0),
      "repartitioned" -> (digest(base.repartition(3, col("s"))) == d0),
      "changed value" -> (digest(base.withColumn("d",
        when(col("id") === 2L, lit(0.25)).otherwise(col("d")))) != d0),
      "changed nested value" -> (digest(base.withColumn("arr",
        when(col("id") === 1L, array(lit(2), lit(1))).otherwise(col("arr")))) != d0),
      "dropped duplicate" -> (digest(base.dropDuplicates("id")) != d0),
      "renamed column" -> (digest(base.withColumnRenamed("s", "t")) != d0),
      "empty frame" -> (digest(base.filter(lit(false))) == "0"))
    checks.foreach { case (name, ok) => println(s"[${if (ok) "PASS" else "FAIL"}] digest: $name") }
    spark.stop()
    checks.forall(_._2)
  }
}
