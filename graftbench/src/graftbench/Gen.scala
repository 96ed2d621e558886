package graftbench

import java.util.SplittableRandom

/** Sizes in antithetic pairs over [lo, hi]: a uniform draw u, then 1 - u,
  * so every two draws average exactly (lo + hi) / 2. */
final class Antithetic(rng: SplittableRandom) {
  private var pending: Option[Double] = None
  def next(lo: Int, hi: Int): Int = {
    val u = pending.getOrElse(rng.nextDouble())
    pending = if (pending.isEmpty) Some(1 - u) else None
    lo + (u * (hi - lo)).round.toInt
  }
}

object Gen {
  /** A standard normal draw (Box-Muller) from a splittable stream. */
  def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(1e-12, r.nextDouble()); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
