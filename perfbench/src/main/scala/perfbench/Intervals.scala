package perfbench

/** Arithmetic on half-open time intervals `[start, end)` in milliseconds. */
object Intervals {
  type Iv = (Long, Long)

  /** Sorted, non-overlapping cover of `xs`; empty intervals are dropped. */
  def union(xs: Seq[Iv]): List[Iv] =
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(u: Seq[Iv]): Long = union(u).map { case (s, e) => e - s }.sum

  /** Length of the time covered by both `a` and `b`. */
  def overlap(a: Seq[Iv], b: Seq[Iv]): Long = {
    val (ua, ub) = (union(a), union(b))
    ua.map { case (s, e) =>
      ub.map { case (s2, e2) => math.max(0L, math.min(e, e2) - math.max(s, s2)) }.sum
    }.sum
  }

  /** Time during which some job is active and no task is running. */
  def idle(jobs: Seq[Iv], tasks: Seq[Iv]): Long = length(jobs) - overlap(jobs, tasks)
}
