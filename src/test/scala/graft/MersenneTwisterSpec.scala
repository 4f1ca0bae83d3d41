package graft

import graft.kernels.MersenneTwister
import org.scalatest.funsuite.AnyFunSuite

/** MT19937 port vs CPython `random`: seeding (`random.seed(int)` →
  * init_by_array over little-endian 32-bit words) and `random.random()`
  * (genrand_res53) must be bit-exact, including multi-word and huge
  * integer seeds. Fixture values generated with the container's
  * python3. */
class MersenneTwisterSpec extends AnyFunSuite with TestTimeLimit {

  private val pinned: Seq[(BigInt, Seq[Double])] = Seq(
    BigInt(0) -> Seq(0.8444218515250481, 0.7579544029403025, 0.420571580830845, 0.25891675029296335),
    BigInt(42) -> Seq(0.6394267984578837, 0.025010755222666936, 0.27502931836911926, 0.22321073814882275),
    BigInt(134699) -> Seq(0.8596180891892531, 0.5616586691511001, 0.17498268403384953, 0.044385976640581304),
    BigInt(972357) -> Seq(0.7210793462325947, 0.33714250443402816, 0.18455167928167993, 0.910650633107624),
    BigInt("123456789012345678901234567890") ->
      Seq(0.7275084571578186, 0.1595204831720859, 0.011812474780114934, 0.2693001103046382))

  test("random.random() sequences match CPython exactly") {
    for ((seed, expected) <- pinned) {
      val rng = new MersenneTwister(seed)
      val got = Seq.fill(expected.length)(rng.nextDouble())
      assert(got == expected, s"seed $seed")
    }
  }

  test("long-run state march: 10000th draw after seed 0") {
    val rng = new MersenneTwister(BigInt(0))
    var x = 0.0
    for (_ <- 1 to 10000) x = rng.nextDouble()
    assert(x == 0.5882681495191968)
  }
}
