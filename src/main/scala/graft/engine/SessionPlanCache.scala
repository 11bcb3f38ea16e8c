package graft.engine

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap

/** The one place a session reuses lazy plans and values derived from a
  * source: parquet read plans, shingle relations, index-root row counts,
  * trained BPE tables. Building a parquet relation costs tens of ms of
  * footer/schema reads, file listing and analysis per call, and the query
  * battery and the CDC epochs rebuild the same reads many times. A cached
  * `DataFrame` is a plan, not data: every action still scans its files.
  *
  * Entries are keyed by (session, source, token, key):
  *  - the *source* is what the caller reads — a parquet path, a
  *    [[KeyedTable]] root;
  *  - the *token* is what makes an entry stale — the source's mtime, or
  *    the table version being read;
  *  - the *key* tells apart the values derived from one source at one token.
  *
  * Inserting a token that differs from the one held drops every entry of
  * that source, so at most one token's entries live per source and the
  * cache's size follows the number of sources, not the number of versions
  * or regenerations seen.
  *
  * What a token sees, and what it does not:
  *  - a committed data dir of a [[KeyedTable]] is never rewritten
  *    (every stage writes a dir of its own; vacuum only deletes, and a plan
  *    over a vacuumed version fails loudly at its next action), so a
  *    version is a sound token;
  *  - a directory mtime changes when a parquet dir is regenerated (the
  *    dir is recreated), but NOT when part files are rewritten in place,
  *    and object-store prefixes have no directory mtime at all. Such an
  *    input is served stale until its dir is recreated.
  *
  * Sessions are the map keys themselves (`SparkSession` has identity
  * equality), so live sessions never share or evict each other's plans.
  * Cached plans strongly reference their session, so a weak map would not
  * release them; instead, entries of sessions whose context has stopped are
  * swept when a new session first registers.
  */
object SessionPlanCache {
  private final class Held(val token: Any) {
    val values: TrieMap[Any, Any] = TrieMap.empty
  }

  private val sessions = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Held]]()

  private def of(spark: SparkSession): ConcurrentHashMap[String, Held] = {
    val held = sessions.get(spark)
    if (held != null) held
    else sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Held]())
    }
  }

  /** The value cached for (`spark`, `source`, `token`, `key`), built by
    * `build` on a miss. `build` runs outside any lock, so it may itself use
    * the cache.
    */
  def getOrElseUpdate[T](spark: SparkSession, source: String, token: Any, key: Any)(build: => T): T =
    of(spark).compute(source, (_, h) => if (h != null && h.token == token) h else new Held(token))
      .values.getOrElseUpdate(key, build).asInstanceOf[T]

  /** Number of entries `spark` holds for `source`. */
  private[graft] def entries(spark: SparkSession, source: String): Int =
    Option(of(spark).get(source)).fold(0)(_.values.size)
}
