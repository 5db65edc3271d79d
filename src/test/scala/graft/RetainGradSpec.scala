package graft

import graft.functions.{Retain, RetainGrad}
import org.scalatest.funsuite.AnyFunSuite

/** Finite-difference validation of the full RETAIN backprop
  * (functions/RetainGrad.scala): for every parameter group, the
  * analytic gradient must match (L(θ+ε)−L(θ−ε))/2ε on a random
  * instance — the gold-standard check for hand-written BPTT.
  */
class RetainGradSpec extends AnyFunSuite {
  import Retain._
  import RetainGrad._

  private def lossOf(p: Array[Double], x: Array[Array[Double]],
                     y: Array[Double], scale: Array[Double]): Double = {
    val w = unpack(p)
    var loss = 0.0
    val (probs, _, ctx) = Retain.forward(w, x)
    for (k <- 0 until K) {
      var z = w.headB(k)
      var j = 0
      while (j < H) { z += ctx(j) * w.heads(k)(j); j += 1 }
      loss += scale(k) * (math.max(z, 0) - z * y(k) + math.log1p(math.exp(-math.abs(z))))
    }
    loss
  }

  test("analytic gradient matches central finite differences") {
    val prng = new Retain.Prng(7L)
    val x = Array.tabulate(T, F)((_, _) => prng.next())
    val y = Array(1.0, 0.0, 1.0)
    val scale = Array(1.1, 0.9, 1.3)
    val p0 = pack(Retain.defaultWeights)

    val acc = new Array[Double](Dim)
    val loss0 = rowGrad(unpack(p0), x, y, scale, acc)

    // loss from rowGrad must equal the forward-only loss
    assert(math.abs(loss0 - lossOf(p0, x, y, scale)) < 1e-12)

    val eps = 1e-6
    // probe a spread of indices from every parameter group
    val probes = Seq(
      OffV, OffV + 17, OffV + F * H - 1,                 // embedding V
      OffACell, OffACell + 100, OffACell + H * 4 * H + 5, // α wx, wh
      OffACell + 2 * H * 4 * H + 3,                       // α bias
      OffBCell + 7, OffBCell + H * 4 * H + 200,           // β cell
      OffBCell + 2 * H * 4 * H + 17,
      OffWAlpha, OffWAlpha + H - 1, OffBAlpha,
      OffWBeta, OffWBeta + 37, OffBBeta + 2,
      OffHeads, OffHeads + H + 3, OffHeadB + 1)
    for (ix <- probes) {
      val pp = p0.clone(); pp(ix) += eps
      val pm = p0.clone(); pm(ix) -= eps
      val num = (lossOf(pp, x, y, scale) - lossOf(pm, x, y, scale)) / (2 * eps)
      val rel = math.abs(num - acc(ix)) / math.max(1e-8, math.max(math.abs(num), math.abs(acc(ix))))
      assert(rel < 1e-5 || math.abs(num - acc(ix)) < 1e-8,
        s"grad mismatch at $ix: analytic=${acc(ix)} numeric=$num rel=$rel")
    }
  }

  test("analytic gradient matches finite differences WITH dropout active") {
    val prng = new Retain.Prng(11L)
    val x = Array.tabulate(T, F)((_, _) => prng.next())
    val y = Array(0.0, 1.0, 1.0)
    val scale = Array(1.0, 1.0, 1.0)
    val p0 = pack(Retain.defaultWeights)
    val keep = 0.5; val seed = 99L

    def lossDrop(p: Array[Double]): Double = {
      val dummy = new Array[Double](Dim)
      rowGrad(unpack(p), x, y, scale, dummy, null, keep, seed)
    }
    val acc = new Array[Double](Dim)
    rowGrad(unpack(p0), x, y, scale, acc, null, keep, seed)
    val eps = 1e-6
    for (ix <- Seq(OffV + 3, OffACell + 50, OffBCell + H * 4 * H + 99,
      OffWAlpha + 2, OffWBeta + 11, OffHeads + 5)) {
      val pp = p0.clone(); pp(ix) += eps
      val pm = p0.clone(); pm(ix) -= eps
      val num = (lossDrop(pp) - lossDrop(pm)) / (2 * eps)
      val rel = math.abs(num - acc(ix)) / math.max(1e-8, math.max(math.abs(num), math.abs(acc(ix))))
      assert(rel < 1e-5 || math.abs(num - acc(ix)) < 1e-8,
        s"dropout grad mismatch at $ix: analytic=${acc(ix)} numeric=$num")
    }
    // same seed → same mask → identical loss; different seed → different loss
    assert(lossDrop(p0) == lossDrop(p0))
    val acc2 = new Array[Double](Dim)
    val other = rowGrad(unpack(p0), x, y, scale, acc2, null, keep, seed + 1)
    assert(other != lossDrop(p0))
  }

  test("AMTL step gradient matches finite differences over heads, biases and B") {
    import graft.operators.RetainOps.AmtlStep
    val prng = new Retain.Prng(23L)
    val xs = Seq.fill(4)(Array.tabulate(T, F)((_, _) => prng.next()))
    val ys = Seq(Array(1.0, 0.0, 1.0), Array(0.0, 0.0, 1.0),
      Array(1.0, 1.0, 0.0), Array(0.0, 1.0, 0.0))
    val n = xs.size.toDouble
    val mu = 0.3; val lambda = 0.2
    // every off-diagonal B entry nonzero, so each |B[k][j]| is
    // differentiable; the diagonal is pinned to 0 and is no parameter
    val b0 = Array(Array(0.0, 0.4, -0.3), Array(0.2, 0.0, 0.5), Array(-0.6, 0.1, 0.0))
    val p0 = pack(Retain.defaultWeights)

    // the AMTL objective, written out independently of AmtlStep:
    // Σ_k s_k·meanCE_k + λ·Σ_t ‖w_t − Σ_i B[i][t]·w_i‖²
    def objective(p: Array[Double], b: Array[Array[Double]]): Double = {
      val scale = Array.tabulate(K)(k => (1.0 + mu * b(k).map(math.abs).sum) / math.sqrt(n))
      val ce = xs.indices.map(r => lossOf(p, xs(r), ys(r), scale)).sum / n
      val w = unpack(p).heads
      var pen = 0.0
      for (t <- 0 until K; j <- 0 until H) {
        val r = w(t)(j) - (0 until K).map(i => b(i)(t) * w(i)(j)).sum
        pen += r * r
      }
      ce + lambda * pen
    }

    // analytic: the data pass (rowGrad at the step's task scales) and
    // the shared step's λ and B gradients, as trainFull composes them
    val step = new AmtlStep(p0.clone(), OffHeads, n, lr = 0.01, mu = mu, lambda = lambda)
    for (i <- 0 until K) System.arraycopy(b0(i), 0, step.bMat(i), 0, K)
    val acc = new Array[Double](Dim); val ceSum = new Array[Double](K)
    val scale = step.taskScale
    for (r <- xs.indices) rowGrad(unpack(p0), xs(r), ys(r), scale, acc, ceSum)
    val grad = acc.map(_ / n)
    val gB = step.gradient(grad, ceSum.map(_ / n))

    val eps = 1e-6
    def check(what: String, analytic: Double, num: Double): Unit = {
      val rel = math.abs(num - analytic) / math.max(1e-8, math.max(math.abs(num), math.abs(analytic)))
      assert(rel < 1e-5 || math.abs(num - analytic) < 1e-8,
        s"$what: analytic=$analytic numeric=$num rel=$rel")
    }
    for (ix <- OffHeads until Dim) { // every head weight and bias
      val pp = p0.clone(); pp(ix) += eps
      val pm = p0.clone(); pm(ix) -= eps
      check(s"param $ix", grad(ix), (objective(pp, b0) - objective(pm, b0)) / (2 * eps))
    }
    for (i <- 0 until K; t <- 0 until K if i != t) {
      val bp = b0.map(_.clone()); bp(i)(t) += eps
      val bm = b0.map(_.clone()); bm(i)(t) -= eps
      check(s"B($i)($t)", gB(i * K + t), (objective(p0, bp) - objective(p0, bm)) / (2 * eps))
    }
    for (i <- 0 until K) assert(gB(i * K + i) == 0.0)
  }

  test("pack/unpack round-trips the weights exactly") {
    val w = Retain.defaultWeights
    val w2 = unpack(pack(w))
    assert(pack(w2).sameElements(pack(w)))
    val x = Array.tabulate(T, F)((t, i) => (t + i) / 20.0)
    val (p1, a1, _) = Retain.forward(w, x)
    val (p2, a2, _) = Retain.forward(w2, x)
    assert(p1.sameElements(p2) && a1.sameElements(a2))
  }

  test("zero task scale gives zero gradient") {
    val x = Array.tabulate(T, F)((t, i) => math.cos(t * F + i))
    val acc = new Array[Double](Dim)
    val loss = rowGrad(Retain.defaultWeights, x, Array(1.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0), acc)
    assert(loss == 0.0)
    assert(acc.forall(_ == 0.0))
  }
}
