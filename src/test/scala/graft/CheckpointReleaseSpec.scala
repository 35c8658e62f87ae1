package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Fault injection for the materialize/release pairs of the delta-index
  * build: a failure partway through leaves no checkpoint pinned. */
class CheckpointReleaseSpec extends AnyFunSuite with SparkSpec {

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("writeSegmentPair releases its checkpoint when a write fails") {
    val tmp = Files.createTempDirectory("segpair").toFile
    val notADir = new java.io.File(tmp, "file")
    Files.write(notADir.toPath, Array[Byte](1))
    val all = spark.range(0, 40).select(col("id").as("vec_id"), (col("id") * 2).as("code"))
    val before = pinned
    val err = intercept[Exception](Similarity.writeSegmentPair(
      all, s"${tmp.getPath}/base", s"${notADir.getPath}/delta"))
    // the failure is the second write's, after the first one landed
    assert(new java.io.File(tmp, "base/_SUCCESS").exists(), err.toString)
    assert((pinned -- before).isEmpty)
  }

  test("k-means loop releases its last generation when a round fails") {
    val emb = sources.Tables.embeddings(spark, sf0001)
    // counts (and, past a limit, fails) every read of an embedding, so a
    // run can be stopped at a fixed round of the loop; the counters live
    // in an object so the task-side closure shares them instead of
    // carrying copies
    val calls = CheckpointReleaseSpec.calls
    val tick = udf { (v: Seq[Float]) =>
      if (CheckpointReleaseSpec.calls.incrementAndGet() > CheckpointReleaseSpec.limit.get)
        throw new IllegalStateException("injected read failure")
      v
    }
    val counted = emb.withColumn("embedding", tick(col("embedding")))
    def callsFor(iters: Int): Long = {
      calls.set(0); CheckpointReleaseSpec.limit.set(Long.MaxValue)
      val model = Similarity.kmeansModelOf(counted, iters = iters)
      graft.functions.ScopedCache.releaseCheckpoint(model)
      calls.get
    }
    val oneRound = callsFor(1)
    assert(callsFor(2) > oneRound) // round 2 reads the vectors again
    val before = pinned
    calls.set(0); CheckpointReleaseSpec.limit.set(oneRound)
    val err = intercept[Exception](Similarity.kmeansModelOf(counted, iters = 3))
    assert(err.toString.contains("injected read failure") ||
      Option(err.getCause).exists(_.toString.contains("injected read failure")), err.toString)
    assert((pinned -- before).isEmpty)
  }
}

object CheckpointReleaseSpec {
  val calls = new AtomicLong(0)
  val limit = new AtomicLong(Long.MaxValue)
}
