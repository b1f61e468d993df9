package graft.plans

import org.apache.spark.sql.Column

/** Inclusive height interval [start, end]. */
final case class Iv(start: Long, end: Long) {
  require(end >= start, s"empty interval [$start,$end]")
  def size: Long = end - start + 1
}

/** Interval algebra (SURVEY P5/J4 + range planning §2.10).
  *
  * Overlap is the classic range-intersection predicate from
  * `/root/reference/src/database/clickhouse_queries.js:220-229`; subtraction
  * is the driver-side fold from `/root/reference/src/core/orchestrator.js:613-636`
  * (the input is the ≤ MAX_QUEUE_ITEMS collected overlap rows, documented
  * driver-side by design); splitRange is `orchestrator.js:77-91`.
  */
object Intervals {

  /** P5: [s1,e1] overlaps [s2,e2]  ⇔  NOT (e2 < s1 OR s2 > e1). */
  def overlaps(s1: Column, e1: Column, s2: Column, e2: Column): Column =
    !(e2 < s1 || s2 > e1)

  def overlaps(a: Iv, b: Iv): Boolean = !(b.end < a.start || b.start > a.end)

  /** J4 subtraction: the disjoint segments of `candidate` not covered by any
    * interval in `existing`. Order-insensitive in result set; segments come
    * back sorted by start. */
  def subtract(candidate: Iv, existing: Seq[Iv]): Seq[Iv] = {
    var segments = Vector((candidate.start, candidate.end))
    existing.foreach { o =>
      if (segments.nonEmpty) {
        segments = segments.flatMap { case (a, b) =>
          if (o.end < a || o.start > b) Vector((a, b)) // no overlap
          else {
            val left = if (o.start > a) Vector((a, o.start - 1)) else Vector.empty
            val right = if (o.end < b) Vector((o.end + 1, b)) else Vector.empty
            left ++ right
          }
        }.filter { case (x, y) => y >= x }
      }
    }
    segments.sortBy(_._1).map { case (s, e) => Iv(s, e) }
  }

  /** splitRange: split [start,end] into ≤ `parts` contiguous chunks, earlier
    * chunks one element larger when the division isn't even. */
  def splitRange(start: Long, end: Long, parts: Int): Seq[Iv] = {
    require(end >= start && parts >= 1)
    val total = end - start + 1
    val n = math.max(1L, math.min(parts.toLong, total))
    val size = total / n
    val rem = total % n
    var s = start
    (0L until n).map { i =>
      val extra = if (i < rem) 1L else 0L
      val e = s + size + extra - 1
      val iv = Iv(s, e)
      s = e + 1
      iv
    }
  }

  /** Seeding plan (orchestrator.js:580-607): carve [from,to] into ~rangeSize
    * work items, subtracting already-queued intervals. */
  def planWorkItems(from: Long, to: Long, rangeSize: Long, queued: Seq[Iv]): Seq[Iv] = {
    require(rangeSize >= 1)
    val out = Vector.newBuilder[Iv]
    var s = from
    while (s <= to) {
      val e = math.min(s + rangeSize - 1, to)
      out ++= subtract(Iv(s, e), queued)
      s += rangeSize
    }
    out.result()
  }
}
