package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession, TestInternals}

import graft.SparkSpec

/** The shared-relation registry ([[Shared]]) with counting builders:
  * build-once per (session, sfDir, name), the other-session sweep,
  * eviction releasing cached entries, retry after a failed build, and
  * per-key (not global) build locking. */
class SharedRelationsSpec extends SparkSpec {

  private val seq = new AtomicInteger
  /** A fresh relation whose builder counts its runs. */
  private def counted(body: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF())
      : (Shared.Relation, AtomicInteger) = {
    val n = new AtomicInteger
    val r = Shared.relation(s"spec_${seq.incrementAndGet()}") { (s, d) =>
      n.incrementAndGet(); body(s, d)
    }
    (r, n)
  }

  test("two consumers in one session build an entry once") {
    val (r, n) = counted()
    val a = Shared.get(spark, "d", r)
    val b = Shared.get(spark, "d", r)
    assert(n.get === 1)
    assert(a eq b)
    Shared.get(spark, "other-dir", r)
    assert(n.get === 2, "another sfDir is another entry")
  }

  test("a second session does not see the first session's entry") {
    val (r, n) = counted()
    val a = Shared.get(spark, "d", r)
    val s2 = spark.newSession()
    val b = Shared.get(s2, "d", r)
    assert(n.get === 2)
    assert(!(a eq b))
    // s2's access dropped the first session's entry
    assert(!(Shared.get(spark, "d", r) eq a))
    assert(n.get === 3)
  }

  test("evictSessionMemos empties the registry and releases a cached entry") {
    DataOps.evictSessionMemos()
    val before = TestInternals.cachedEntries(spark)
    val (r, n) = counted((s, _) => s.range(10).toDF("x").filter("x % 3 = 1").cache())
    val df = Shared.get(spark, "d", r)
    assert(df.count() === 3)
    assert(TestInternals.cachedEntries(spark) === before + 1)
    assert(Shared.size === 1)
    DataOps.evictSessionMemos()
    assert(Shared.size === 0)
    assert(TestInternals.cachedEntries(spark) === before)
    Shared.get(spark, "d", r)
    assert(n.get === 2, "an evicted entry is rebuilt on the next read")
    DataOps.evictSessionMemos()
    assert(TestInternals.cachedEntries(spark) === before)
  }

  test("a throwing builder is not cached: the next call builds again") {
    val fail = new java.util.concurrent.atomic.AtomicBoolean(true)
    val (r, n) = counted { (s, _) =>
      if (fail.getAndSet(false)) throw new IllegalStateException("boom")
      s.range(1).toDF()
    }
    intercept[IllegalStateException](Shared.get(spark, "d", r))
    val ok = Shared.get(spark, "d", r)
    assert(n.get === 2)
    assert(Shared.get(spark, "d", r) eq ok)
    assert(n.get === 2)
  }

  private def withPool[T](threads: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); () }
  }

  test("two threads asking for one key build it once") {
    val started = new CountDownLatch(1)
    val (r, n) = counted { (s, _) =>
      started.countDown(); Thread.sleep(300); s.range(2).toDF()
    }
    withPool(2) { implicit ec =>
      val a = Future(Shared.get(spark, "d", r))
      assert(started.await(10, TimeUnit.SECONDS))
      val b = Future(Shared.get(spark, "d", r))
      val (x, y) = Await.result(a.zip(b), 30.seconds)
      assert(n.get === 1)
      assert(x eq y)
    }
  }

  test("two different keys build concurrently, neither waits on the other") {
    // each builder finishes only once the OTHER has started: a registry
    // that serialized builds (a global or map-bin lock held across the
    // build) would time both out
    val aStarted = new CountDownLatch(1)
    val bStarted = new CountDownLatch(1)
    def meet(mine: CountDownLatch, other: CountDownLatch) =
      (s: SparkSession, _: String) => {
        mine.countDown()
        require(other.await(10, TimeUnit.SECONDS), "the other build never started")
        s.range(1).toDF()
      }
    val (ra, na) = counted(meet(aStarted, bStarted))
    val (rb, nb) = counted(meet(bStarted, aStarted))
    withPool(2) { implicit ec =>
      val a = Future(Shared.get(spark, "d", ra))
      val b = Future(Shared.get(spark, "d", rb))
      Await.result(a.zip(b), 30.seconds)
      assert(na.get === 1 && nb.get === 1)
    }
  }

  test("a name is declared once") {
    val (r, _) = counted()
    intercept[IllegalArgumentException](
      Shared.relation(r.name)((s, _) => s.range(1).toDF()))
  }

  test("events staging key changes when a corpus file is added or touched") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_key")
    try {
      val missing = EtlQueries.corpusKey(dir.resolve("absent").toString)
      val empty = EtlQueries.corpusKey(dir.toString)
      assert(missing !== empty)
      val f1 = java.nio.file.Files.writeString(dir.resolve("a.csv"), "x\n1\n")
      val one = EtlQueries.corpusKey(dir.toString)
      assert((one !== empty) && (one !== missing))
      assert(EtlQueries.corpusKey(dir.toString) === one, "stable when unchanged")
      java.nio.file.Files.writeString(dir.resolve("b.csv"), "x\n2\n")
      val two = EtlQueries.corpusKey(dir.toString)
      assert(two !== one, "adding a file changes the key")
      f1.toFile.setLastModified(f1.toFile.lastModified() + 60000L)
      assert(EtlQueries.corpusKey(dir.toString) !== two,
        "touching a file changes the key")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
