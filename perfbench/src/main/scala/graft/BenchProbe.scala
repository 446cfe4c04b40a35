package graft

/** The benchmark's window onto [[Bench]]'s contention rule, which is
  * package-private to `graft`.
  */
object BenchProbe {
  def contended(pprobes: Seq[Double], warmupFloor: Double): Boolean =
    Bench.contentionVerdict(pprobes, warmupFloor)
}
