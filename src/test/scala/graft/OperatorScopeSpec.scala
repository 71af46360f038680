package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

import graft.llm.{Bpe, Dedup}
import graft.operators.{OperatorScope, Quantiles}

/** The operator scope's two contracts on the shared test session:
  * everything a body registers is released on exit, whether it
  * returns or throws; and the scoped conf composes — nested on one
  * thread, overlapping on several — leaving the session exactly as it
  * was once the last scope exits.
  */
class OperatorScopeSpec extends SparkSpec {

  private def sc = spark.sparkContext
  private val keys = OperatorScope.Minhash.map(_.key)
  private def held: Map[String, Option[String]] =
    keys.map(k => k -> spark.conf.getOption(k)).toMap
  private def docs = Tables.read(spark, sf, "documents")

  /** Runs `body` in a thread; rethrows its failure on `join`. */
  private def thread(body: => Unit): () => Unit = {
    @volatile var failure: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => failure = e })
    t.start()
    () => {
      t.join(TimeUnit.MINUTES.toMillis(10))
      assert(!t.isAlive, "scope thread did not finish")
      if (failure != null) throw failure
    }
  }

  test("a throwing body releases its persists and checkpoint and restores conf") {
    val before = sc.getPersistentRDDs.keySet
    val confBefore = spark.conf.getAll
    val boom = intercept[IllegalStateException] {
      OperatorScope(spark, OperatorScope.Minhash) { scope =>
        val a = scope.persist(spark.range(100).toDF("id"))
        val b = scope.persist(a.select((col("id") * 2).as("id")))
        val c = scope.checkpoint(b.filter(col("id") > 10))
        assert(a.count() == 100 && c.count() == 94)
        assert(sc.getPersistentRDDs.keySet.diff(before).size == 3)
        assert(spark.conf.get(OperatorScope.CachedPlanAqe.key) == "true")
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
    assert(spark.conf.getAll == confBefore)
  }

  test("nested scopes on one thread compose") {
    val before = held
    val outerBefore = sc.getPersistentRDDs.keySet
    OperatorScope(spark, OperatorScope.Coalesced) { outer =>
      val kept = outer.persist(spark.range(10).toDF("id"))
      kept.count()
      OperatorScope(spark, OperatorScope.Minhash) { inner =>
        inner.persist(spark.range(20).toDF("id")).count()
        assert(held == OperatorScope.Minhash.map(s => s.key -> Some(s.value)).toMap)
      }
      // the inner scope released its frame and handed back the keys
      // only it held; the outer's key and frame are still held
      assert(sc.getPersistentRDDs.keySet.diff(outerBefore).size == 1)
      assert(spark.conf.get(OperatorScope.CachedPlanAqe.key) == "true")
      assert(held - OperatorScope.CachedPlanAqe.key ==
        before - OperatorScope.CachedPlanAqe.key)
      assert(kept.count() == 10)
    }
    assert(sc.getPersistentRDDs.keySet.diff(outerBefore).isEmpty)
    assert(held == before)
  }

  test("overlapping scopes on two threads, entered A-B and exited A-B, restore every key") {
    val before = held
    val aIn, bIn, aOut = new CountDownLatch(1)
    def await(l: CountDownLatch) = assert(l.await(2, TimeUnit.MINUTES))
    val joinA = thread {
      OperatorScope(spark, OperatorScope.Minhash) { _ =>
        aIn.countDown()
        await(bIn)
      }
      aOut.countDown()
    }
    val joinB = thread {
      await(aIn)
      OperatorScope(spark, OperatorScope.Minhash) { _ =>
        bIn.countDown()
        await(aOut)
        // A has exited; B still holds every scoped value
        assert(held == OperatorScope.Minhash.map(s => s.key -> Some(s.value)).toMap)
      }
    }
    joinA()
    joinB()
    assert(held == before)
  }

  test("a key the user pinned is never overwritten") {
    val key = OperatorScope.ObjectAggThreshold.key
    val original = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1000")
      OperatorScope(spark, OperatorScope.Minhash) { _ =>
        assert(spark.conf.get(key) == "1000")
      }
      assert(spark.conf.get(key) == "1000")
      // Spark's own default is not a pin: the scope raises it
      spark.conf.set(key, "128")
      OperatorScope(spark, OperatorScope.Minhash) { _ =>
        assert(spark.conf.get(key) == OperatorScope.ObjectAggThreshold.value)
      }
      assert(spark.conf.get(key) == "128")
    } finally original match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("minhashNearDups, exactQuantiles and trainBpeMerges run concurrently on one session") {
    val corpus = docs
    def pairs(): Seq[(Long, Long, Double)] = {
      val r = Dedup.minhashNearDups(corpus, "doc_id", "text")
      try r.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSeq.sorted
      finally r.unpersist(blocking = false)
    }
    def quantiles(): Seq[(String, Double, Double)] =
      Quantiles.exactQuantiles(corpus, Seq("source"), "n_chars",
          Seq(0.1, 0.5, 0.9))
        .collect().map(x => (x.getString(0), x.getDouble(1), x.getDouble(2)))
        .toSeq.sorted
    // maxDriverWords = 0: the distributed path, one checkpoint per round
    def merges(): Seq[(String, String)] =
      Bpe.trainBpeMerges(corpus.filter(col("doc_id") < 100), "text",
        numMerges = 6, maxDriverWords = 0)

    val (p0, q0, m0) = (pairs(), quantiles(), merges())
    assert(p0.nonEmpty && q0.nonEmpty && m0.size == 6)

    val before = sc.getPersistentRDDs.keySet
    val confBefore = spark.conf.getAll
    val start = new CountDownLatch(1)
    def rounds[T](expected: T)(run: () => T): () => Unit = thread {
      assert(start.await(2, TimeUnit.MINUTES))
      (1 to 5).foreach(i => assert(run() == expected, s"round $i"))
    }
    val joins = Seq(rounds(p0)(() => pairs()), rounds(q0)(() => quantiles()),
      rounds(m0)(() => merges()))
    start.countDown()
    joins.foreach(_())

    // quantile results are localCheckpoints ContextCleaner reclaims on
    // GC; anything else left behind is a leaked CacheManager persist
    val residue = sc.getPersistentRDDs.keySet.diff(before)
      .filterNot(id => sc.getPersistentRDDs.get(id).exists(_.isCheckpointed))
    assert(residue.isEmpty, s"cache residue: $residue")
    assert(spark.conf.getAll == confBefore)
  }
}
