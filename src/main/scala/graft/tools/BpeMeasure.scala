package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.llm.Bpe

/** BPE-trainer scheduling measurement (SCALING.md's jobs-per-vocab
  * evidence): trains the same vocabulary sequentially (maxBatch = 1 —
  * the classic one-argmax-per-merge loop) and batched (the default),
  * reporting wall-clock, rounds (pair-count scans), and total Spark
  * jobs for each. Equality of the two merge lists is asserted — the
  * batching must be a pure scheduling change.
  *
  * Corpora:
  *   - "rich": 400 distinct 20-char pseudo-words (the LlmSpec
  *     500-merge corpus) — enough pair vocabulary for a deep vocab;
  *   - a parquet documents dir (e.g. the GenDocs decade corpus) —
  *     the shipped 31-word vocabulary exhausts its pair space after
  *     ~130 merges, so ask for fewer.
  *
  * Usage: runMain graft.tools.BpeMeasure <rich|/path/to/docsDir> [numMerges]
  */
object BpeMeasure {

  private class JobCounter extends SparkListener {
    val n = new AtomicInteger(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      n.incrementAndGet()
  }

  private def richCorpus(spark: SparkSession) = {
    import spark.implicits._
    val words = (0 until 400).map { i =>
      val prefix = {
        var n = i
        (0 until 4).map { _ =>
          val c = ('a' + n % 26).toChar; n /= 26; c
        }.mkString
      }
      val body = (0 until 16).map { j =>
        ('a' + ((i * 31 + j * 7 + i * j) % 26 + 26) % 26).toChar
      }.mkString
      prefix + body
    }
    words.grouped(20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "rich"
    val numMerges = if (args.length > 1) args(1).toInt else 500
    val spark = GraftSession.builder("graft-bpe-measure", "local[32]")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)
      val counter = new JobCounter
      spark.sparkContext.addSparkListener(counter)

      val corpus =
        if (src == "rich") richCorpus(spark)
        else spark.read.parquet(src).select("doc_id", "text")
      corpus.cache().count()

      def measure(label: String, maxBatch: Int,
                  maxDriverWords: Long): Seq[(String, String)] = {
        // one untimed warmup round on a tiny slice (JIT + codegen)
        Bpe.trainBpeMerges(corpus.limit(2), "text", 2, maxBatch,
          maxDriverWords)
        Thread.sleep(500)
        val j0 = counter.n.get()
        val t0 = System.nanoTime()
        val ms = Bpe.trainBpeMerges(corpus, "text", numMerges, maxBatch,
          maxDriverWords)
        val wall = (System.nanoTime() - t0) / 1e9
        val jobs = counter.n.get() - j0
        println(f"$label%-16s merges=${ms.size}%5d rounds=${Bpe.lastTrainRounds}%5d jobs=$jobs%6d wall=$wall%8.1f s")
        ms
      }

      val tier1 = measure("tier1-in-memory", 256, 2000000L)
      val batched = measure("tier2-batched", 256, 0L)
      val seq = measure("tier2-sequential", 1, 0L)
      require(tier1 == batched && batched == seq,
        "execution paths disagree — a tier is unsound")
      println("merge lists identical across all three paths: true")
    } finally spark.stop()
  }
}
