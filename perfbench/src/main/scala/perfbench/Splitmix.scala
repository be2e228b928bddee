package perfbench

/** The seeded hash both input generators draw their values from. */
object Splitmix {

  /** splitmix64 finaliser over (seed, salt, id). */
  def mix(seed: Long, salt: Int, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
