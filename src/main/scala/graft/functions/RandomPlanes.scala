package graft.functions

/** Deterministic pseudo-random hyperplanes (public splitmix64 algorithm). */
object RandomPlanes {
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  /** Uniform in [-1, 1) — adequate for LSH sign tests. */
  def planes(dim: Int, n: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(n) { i =>
      Array.tabulate(dim) { j =>
        val h = splitmix64(seed * 1000003L + i.toLong * 131071L + j)
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }
}
