package perfbench

/** Counter-based pseudo-random numbers: every value is a pure function of
  * (seed, stream, coordinates), so a Spark generator, a plain-Scala replay
  * and a test all see the same inputs without sharing state. */
object Rng {

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, a: Long = 0L, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(mix(seed) ^ stream) ^ a) ^ b) ^ c)

  /** Uniform double in [0, 1). */
  def u(seed: Long, stream: Long, a: Long = 0L, b: Long = 0L, c: Long = 0L): Double =
    (hash(seed, stream, a, b, c) >>> 11).toDouble * (1.0 / (1L << 53))

  /** Uniform int in [0, n). */
  def int(n: Int, seed: Long, stream: Long, a: Long = 0L, b: Long = 0L, c: Long = 0L): Int =
    math.min(n - 1, (u(seed, stream, a, b, c) * n).toInt)
}
