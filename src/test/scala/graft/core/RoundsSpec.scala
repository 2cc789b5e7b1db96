package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Bpe, Dedup, EdgeStore, EdgeStoreConfig, QualityModels}

/** The iterative operators' round lifecycle: every operator frees only
  * the checkpoint pins it created itself — never a concurrent leg's —
  * and leaves nothing pinned but its result's own pin, on both the
  * driver-replay and the distributed route. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Runs `body` while a forked arm keeps checkpointing small frames;
    * returns how many of the arm's frames could no longer be read. */
  private def besideCheckpointingArm(body: => Unit): (Int, Int) = {
    @volatile var stop = false
    val held = new ConcurrentLinkedQueue[DataFrame]()
    val arm = Par.fork {
      var i = 0
      while (!stop || i < 4) {
        held.add(spark.range(0, 16 + i).toDF("x").localCheckpoint(true))
        i += 1
      }
    }
    try body finally stop = true
    arm()
    val frames = held.asScala.toSeq
    val unreadable = frames.count(df =>
      try { df.collect(); false } catch { case _: Exception => true })
    Rounds.release(frames: _*)
    (unreadable, frames.size)
  }

  test("rank maintenance ×3 leaves a concurrent leg's checkpoints readable") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_rnd_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    val rnd = new scala.util.Random(3)
    store.append(Seq.fill(200)((rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong, (rnd.nextInt(4) + 1).toLong))
      .toDF("src", "dst", "w"), "src", "dst")
    val (unreadable, total) = besideCheckpointingArm(
      (1 to 3).foreach(_ => store.pageRankMaintain(spark, iters = 3)))
    assert(unreadable === 0,
      s"$unreadable of $total concurrent checkpoints were unpersisted")
  }

  test("connectedComponents leaves a forked arm's checkpoints readable, " +
      "both routes") {
    val chain = (100L until 160L).map(i => (i, i + 1)).toDF("a", "b")
    for (budget <- Seq(Dedup.DefaultMaxDriverEdges, 0L)) {
      val (unreadable, total) = besideCheckpointingArm(
        (1 to 2).foreach(_ =>
          Dedup.connectedComponents(chain, "a", "b",
            maxDriverEdges = budget).collect()))
      assert(unreadable === 0, s"budget $budget: $unreadable of $total " +
        "concurrent checkpoints were unpersisted")
    }
  }

  /** `run`'s result and the persistent RDDs it left behind. */
  private def leftPinned[A](run: => A): (A, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = run
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  test("connectedComponents pins nothing but its result, both routes") {
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    for (budget <- Seq(Dedup.DefaultMaxDriverEdges, 0L)) {
      val (labels, left) = leftPinned(
        Dedup.connectedComponents(pairs, "a", "b", maxDriverEdges = budget))
      val own = Rounds.pins(labels).map(_.id).toSet
      assert(left === own, s"budget $budget")
      // the driver route answers locally; the distributed one returns
      // its final round pinned
      assert(own.isEmpty === (budget > 0), s"budget $budget")
      assert(labels.count() === 30L)
      Rounds.release(labels)
    }
  }

  test("learnMerges and trainHashedPerceptron pin nothing, both routes") {
    val docs = Seq((1L, "low lower lowest newer wider"),
      (2L, "new newest widest low"), (3L, "spam spam buy now buy"))
      .toDF("id", "text")
    for (budget <- Seq(Bpe.DefaultMaxDriverTypes, 0L)) {
      val (_, left) = leftPinned(Bpe.learnMerges(docs, "text",
        numMerges = 6, maxDriverTypes = budget).collect())
      assert(left.isEmpty, s"learnMerges, budget $budget")
    }
    val labeled = docs.withColumn("label",
      when(col("id") === 3L, -1L).otherwise(1L))
    for (budget <- Seq(QualityModels.MaxDriverOcc, 0L)) {
      val (_, left) = leftPinned(QualityModels.trainHashedPerceptron(
        labeled, "id", "text", "label", numFeatures = 64, iters = 3,
        maxDriverOcc = budget))
      assert(left.isEmpty, s"trainHashedPerceptron, budget $budget")
    }
  }
}
