package graft.model

import org.apache.spark.sql.SparkSession

/** Session-scoped memo with WEAKLY-held session keys (ADVICE r13): the
  * per-session TrieMaps the fit-once/build-once disciplines use
  * (quantizer stats, trained centroids, physical index roots) were
  * keyed by SparkSession in a plain strong map, so every session a JVM
  * ever built — one per spec suite under test — retained its driver-side
  * arrays and paths for the JVM lifetime. A [[java.util.WeakHashMap]]
  * keyed by the session lets a stopped, dereferenced session's entries
  * be collected, matching the bounded-lifetime intent of the memo.
  *
  * CONSTRAINT: values must NOT reference their session (directly or via
  * a DataFrame/Dataset, which holds its SparkSession strongly) — a
  * value→key strong reference defeats WeakHashMap eviction entirely.
  * That is why [[Silver.memoize]], the one frame-valued memo, keeps its
  * documented strong map: its values ARE session-bound frames, and the
  * handful of long-lived driver sessions makes that retention harmless
  * there. This class is for session-FREE values: paths, stats arrays,
  * codebooks.
  *
  * The tuple-keyed `apply`/`update`/`collectFirst` surface mirrors the
  * TrieMap API the spec hooks already use. */
final class SessionMemo[K, V] {

  private val maps = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[K, V]]()

  private def mapFor(s: SparkSession)
      : scala.collection.concurrent.TrieMap[K, V] = maps.synchronized {
    var m = maps.get(s)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[K, V]
      maps.put(s, m)
    }
    m
  }

  def getOrElseUpdate(key: (SparkSession, K), v: => V): V =
    mapFor(key._1).getOrElseUpdate(key._2, v)

  def get(key: (SparkSession, K)): Option[V] = mapFor(key._1).get(key._2)

  def apply(key: (SparkSession, K)): V = mapFor(key._1)(key._2)

  def update(key: (SparkSession, K), v: V): Unit =
    mapFor(key._1).update(key._2, v)

  /** Snapshot iteration over the live sessions' entries (spec hook). */
  def collectFirst[B](
      pf: PartialFunction[((SparkSession, K), V), B]): Option[B] = {
    val snap = maps.synchronized {
      import scala.jdk.CollectionConverters._
      maps.entrySet().asScala
        .map(e => e.getKey -> e.getValue).toList
    }
    snap.iterator
      .flatMap { case (s, m) => m.iterator.map { case (k, v) => ((s, k), v) } }
      .collectFirst(pf)
  }
}
