package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Hfs, Stage, TmpStores}
import graft.streaming.{ClaimStore, CurationStream, DedupGateStream,
  EmbedDedupStream, MediaDedupStream, StreamGate}

/** Pins [[StreamGate.commit]]'s crash order — verdict consumers, then
  * claim deltas, then folds, then the checkpoint — once for every gate
  * that commits its batches through it ([[CurationStream]],
  * [[MediaDedupStream]], [[EmbedDedupStream]], [[DedupGateStream]]),
  * plus the claim schemas those gates hand their stores. */
class StreamGateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession("4")

  private val claimSchema = StructType.fromDDL("pk INT NOT NULL, fp STRING, epoch BIGINT NOT NULL")

  private def tmpRoot(prefix: String): Path =
    Files.createTempDirectory(TmpStores.pidScopedRoot("graft-testtmp"), prefix)

  private def deltaCount(store: ClaimStore): Int =
    Hfs.children(s"${store.dir}/delta")(_.endsWith(".parquet")).size

  test("a consumer that throws leaves no claim delta on disk") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("gate-consumer")
    val store = ClaimStore(root.resolve("claims").toString, claimSchema, Some("pk"))
    val verdicts = root.resolve("verdicts").toString
    val e = intercept[IllegalStateException] {
      StreamGate.commit(spark,
        consumers = Seq(
          () => Seq(1L).toDF("doc_id").write.parquet(verdicts),
          () => throw new IllegalStateException("consumer failed")),
        claims = Seq(store -> Seq((1, "fp1", 0L)).toDF("pk", "fp", "epoch")))
    }
    assert(e.getMessage == "consumer failed")
    assert(deltaCount(store) == 0, "no claim may land before every consumer has")
    assert(spark.read.parquet(verdicts).count() == 1L,
      "a sibling consumer still runs to completion")
    TmpStores.deleteRecursively(root)
  }

  test("a claim append that throws folds nothing and the batch is redelivered") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("gate-claims")
    val seeded = ClaimStore(root.resolve("a").toString, claimSchema, Some("pk"))
    val other = ClaimStore(root.resolve("b").toString, claimSchema, Some("pk"))
    // fill one store to its delta budget: any commit that reaches the
    // fold phase folds it into a generation
    (1 to ClaimStore.CompactDeltaFiles).foreach(i =>
      seeded.appendDelta(Seq((i, s"seed_$i", 0L)).toDF("pk", "fp", "epoch")))
    val in = root.resolve("in").toString
    StreamGate.writeBatches(in, Seq(1L, 2L).toDF("doc_id"))
    val ckpt = root.resolve("ckpt").toString
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def gate(failOther: Boolean) = StreamGate.start(
        StreamGate.source(in, StructType.fromDDL("doc_id BIGINT")), ckpt) {
      (batch, batchId) =>
        delivered.add(batchId)
        val claims = batch.select(col("doc_id").cast("int").as("pk"),
          col("doc_id").cast("string").as("fp"), lit(batchId).as("epoch"))
        StreamGate.commit(spark, consumers = Nil, claims = Seq(
          seeded -> claims,
          other -> (if (failOther) claims.withColumn("pk", StreamGateSpec.failing(col("pk")))
                    else claims)))
    }
    intercept[StreamingQueryException](gate(failOther = true).awaitTermination())
    assert(Stage.currentTarget(seeded.dir).isEmpty,
      "a failed claim append must stop the batch before any store folds")
    assert(deltaCount(seeded) == ClaimStore.CompactDeltaFiles + 1)
    assert(!Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")),
      "the checkpoint must not commit a batch whose claims failed")
    // restart on the same checkpoint: batch 0 arrives again and commits
    gate(failOther = false).awaitTermination()
    assert(delivered.toArray.toSeq == Seq(0L, 0L), "batch 0 must be redelivered")
    assert(Stage.currentTarget(seeded.dir).isDefined, "the replayed commit folds")
    assert(other.read(spark).select("fp").as[String].collect().toSet == Set("1", "2"))
    TmpStores.deleteRecursively(root)
  }

  test("gate claim schemas keep their tuple-encoder names, types and nullability") {
    val spark0 = spark
    import spark0.implicits._
    assert(CurationStream.claimStores("x").map(_.schema) == Seq(
      Seq.empty[(Int, String, Long)].toDF("pk", "fp", "epoch").schema,
      Seq.empty[(Int, Long, Long, Long)].toDF("pk", "claim_id", "fhash", "epoch").schema,
      Seq.empty[(Int, Long, String, Long)].toDF("pk", "claim_id", "vhash", "epoch").schema))
    assert(CurationStream.funnelStore("x").schema == Seq.empty[(Long, String, Long, Long)]
      .toDF("batch_id", "stage", "n_docs", "n_tokens").schema)
    assert(MediaDedupStream.claimStores("x").map(_.schema) == Seq(
      Seq.empty[(Int, Long, Long, Long)].toDF("pk", "claim_id", "fhash", "epoch").schema))
    assert(EmbedDedupStream.claimStores("x").map(_.schema) == Seq(
      Seq.empty[(Int, Long, Array[Byte], Double, Double, Long)]
        .toDF("pk", "claim_id", "codes", "vmin", "scale", "epoch").schema))
    assert(DedupGateStream.claimStores("x").map(_.schema) == Seq(
      Seq.empty[(Int, Long, Int, Long, Long)]
        .toDF("bucket", "doc_id", "band", "band_hash", "epoch").schema,
      Seq.empty[(Int, Long, Seq[String], Long)]
        .toDF("dbucket", "doc_id", "sh", "epoch").schema))
  }
}

object StreamGateSpec {
  /** A claim column whose evaluation throws — an append that fails. */
  val failing = udf { (pk: Int) =>
    if (pk >= 0) throw new IllegalStateException("claim append failed")
    pk
  }
}
