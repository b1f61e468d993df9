package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** J5 — the hashed dictionary (`dict_blocks`,
  * `/root/reference/scripts/init_clickhouse.js:446-456`): a small dimension
  * relation kept hot for hash-lookup joins, refreshed on a TTL
  * (`LIFETIME(MIN 300 MAX 600)`). Spark shape: a cached DataFrame used with
  * a `broadcast()` hint; `dictGet(...)` becomes a broadcast equi-join. */
class RefreshingDict(load: () => DataFrame, ttlSeconds: Long,
                     clock: () => Long = () => System.currentTimeMillis() / 1000) {

  @volatile private var cached: Option[(DataFrame, Long)] = None
  @volatile private var loads = 0

  /** Number of times the underlying load ran (observability/testing). */
  def loadCount: Int = loads

  /** Current dictionary, reloading + re-caching when the TTL lapsed. */
  def current(): DataFrame = synchronized {
    val now = clock()
    cached match {
      case Some((df, at)) if now - at < ttlSeconds => df
      case prior =>
        prior.foreach { case (old, _) => old.unpersist() }
        val df = load().cache()
        df.count() // materialize so lookups don't re-run the load lineage
        loads += 1
        cached = Some((df, now))
        df
    }
  }

  /** dictGet analogue: broadcast hash-lookup join of `fact` against the
    * dictionary on `keys` (left join — missing keys yield nulls, like
    * dictGetOrDefault with null default). */
  def lookup(fact: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(current()), keys, "left")
}
