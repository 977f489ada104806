package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge

/** The session's shared relations: a relation that at least two
  * registered queries read (or one query body reads twice) is declared
  * ONCE as a named [[Shared.Relation]] next to its builder, and every
  * consumer reads it through [[Shared.get]]. It is built at most once per
  * (session, sfDir, name) and served to every later consumer until
  * [[evictAll]] — the session-level reuse with explicit bookkeeping of
  * the EDBT 2020 incremental top-k sessions framework, in one registry
  * instead of one memo map per operator family.
  *
  * Every builder is a deterministic function of its input directory, so
  * sharing never changes a value; it only decides who pays the build.
  *
  * Concurrency: the map holds cheap lazy holders. `computeIfAbsent`
  * inserts the holder, and the holder runs its builder under its OWN
  * monitor — one key builds once, two keys never block each other, and
  * no map bin lock is held across a Spark job. A builder that throws
  * leaves its holder empty, so the next call builds again. Builders may
  * read other shared relations (the dependency order is acyclic, so the
  * nested holder monitors cannot deadlock).
  *
  * Lifetime: entries of any other session UUID are dropped — and
  * unpersisted — on access (a JVM serves one live session in practice;
  * two live sessions merely rebuild each other's entries, never read a
  * wrong one). [[evictAll]] drops every entry the same way, which is how
  * `graft.Bench` prices each query's own shared builds. Unpersist
  * releases a `.cache()`'d entry's CacheManager slot; checkpointed
  * entries' blocks go to ContextCleaner once unreferenced. */
object Shared {

  /** A declared shared relation; create with [[relation]]. */
  final class Relation private[Shared] (val name: String,
      private[Shared] val build: (SparkSession, String) => DataFrame) {
    override def toString: String = s"Shared($name)"
  }

  private val declared = ConcurrentHashMap.newKeySet[String]()

  /** Declare a shared relation. Names are the registry key, so each is
    * declared exactly once per JVM. */
  def relation(name: String)(build: (SparkSession, String) => DataFrame): Relation = {
    require(declared.add(name), s"shared relation '$name' is declared twice")
    new Relation(name, build)
  }

  private final class Holder(build: () => DataFrame) {
    private var value: DataFrame = _
    def get(): DataFrame = synchronized {
      if (value == null) value = build()
      value
    }
    /** Waits out a build in progress, then unpersists what it built. */
    def release(): Unit = synchronized {
      if (value != null) try value.unpersist() catch { case _: Throwable => () }
      value = null
    }
  }

  private val entries = new ConcurrentHashMap[(String, String, String), Holder]()

  /** `r` for session `s` over input directory `d`, built on first use. */
  def get(s: SparkSession, d: String, r: Relation): DataFrame = {
    val uuid = PlanBridge.sessionUUID(s)
    entries.keySet().forEach(k => if (k._1 != uuid) drop(k))
    entries.computeIfAbsent((uuid, d, r.name),
      _ => new Holder(() => r.build(s, d))).get()
  }

  /** Drop and unpersist every entry of every session. */
  def evictAll(): Unit = entries.keySet().forEach(k => drop(k))

  /** Entries currently held (built or building), for tests. */
  private[graft] def size: Int = entries.size

  private def drop(k: (String, String, String)): Unit =
    Option(entries.remove(k)).foreach(_.release())
}
