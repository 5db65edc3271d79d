package graft.functions

import graft.functions.Retain._

/** Full analytic backprop for the RETAIN forward pass — the gradient of
  * the reference's joint objective wrt EVERY parameter (`model.py:184`
  * minimizes all trainables, not just the heads): embedding V, both
  * LSTM cells (BPTT over the 11 reversed steps), attention projections
  * (α through the softmax Jacobian, β through tanh), and the per-task
  * output heads.
  *
  * Layout of the flat gradient/parameter vector (offsets below):
  *   V[F*H] | αcell wx[H*4H] wh[H*4H] b[4H] | βcell likewise |
  *   wα[H] bα[1] | Wβ[H*H] bβ[H] | heads[K*H] | headB[K]
  *
  * Executors call [[rowGrad]] per entity row and the driver
  * treeAggregates the flat arrays — O(params)=~2.4k doubles of shuffle
  * per partition, never O(rows).
  */
object RetainGrad {
  val K: Int = numTasks
  private val cellSz = H * 4 * H * 2 + 4 * H
  val OffV = 0
  val OffACell: Int = OffV + F * H
  val OffBCell: Int = OffACell + cellSz
  val OffWAlpha: Int = OffBCell + cellSz
  val OffBAlpha: Int = OffWAlpha + H
  val OffWBeta: Int = OffBAlpha + 1
  val OffBBeta: Int = OffWBeta + H * H
  val OffHeads: Int = OffBBeta + H
  val OffHeadB: Int = OffHeads + K * H
  val Dim: Int = OffHeadB + K

  /** Training is LSTM-only, matching the reference's default config
    * (`use_lstm=True`, `model.py:112-115`); the GRU fallback cell is an
    * eval/scoring path (see Retain.defaultGruWeights). */
  private def lstm(c: RnnCell): LstmCell = c match {
    case l: LstmCell => l
    case other => throw new IllegalArgumentException(
      s"RetainGrad supports the LSTM cell only, got ${other.getClass.getSimpleName}")
  }

  /** Flat layout for GRU-cell weight sets (eval-side only — training is
    * LSTM-only): V | αGRU(wxG|whG|bG|wxC|whC|bC) | βGRU(same) | wα | bα
    * | Wβ | bβ | heads | headB. Consumed by RetainOracleSql's q203
    * oracle, which indexes this layout from SQL.
    */
  val GruCellSz: Int = 2 * (H * 2 * H) + 2 * H + 2 * (H * H) + H
  val GruDim: Int = F * H + 2 * GruCellSz + H + 1 + H * H + H + K * H + K
  def packGru(w: RetainWeights): Array[Double] = {
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    for (i <- 0 until F; j <- 0 until H) out += w.v(i)(j)
    def packCell(c: RnnCell): Unit = c match {
      case g: GruCell =>
        for (i <- 0 until H; j <- 0 until 2 * H) out += g.wxG(i)(j)
        for (i <- 0 until H; j <- 0 until 2 * H) out += g.whG(i)(j)
        for (j <- 0 until 2 * H) out += g.bG(j)
        for (i <- 0 until H; j <- 0 until H) out += g.wxC(i)(j)
        for (i <- 0 until H; j <- 0 until H) out += g.whC(i)(j)
        for (j <- 0 until H) out += g.bC(j)
      case other => throw new IllegalArgumentException(
        s"packGru expects GRU cells, got ${other.getClass.getSimpleName}")
    }
    packCell(w.alphaCell)
    packCell(w.betaCell)
    for (j <- 0 until H) out += w.wAlpha(j)
    out += w.bAlpha
    for (i <- 0 until H; j <- 0 until H) out += w.wBeta(i)(j)
    for (j <- 0 until H) out += w.bBeta(j)
    for (k <- 0 until K; j <- 0 until H) out += w.heads(k)(j)
    for (k <- 0 until K) out += w.headB(k)
    require(out.length == GruDim, s"packGru produced ${out.length}, expected $GruDim")
    out.toArray
  }

  /** Inverse of [[packGru]] — restores a GRU-cell weight set bit-exactly. */
  def unpackGru(p: Array[Double]): RetainWeights = {
    require(p.length == GruDim, s"expected $GruDim GRU params, got ${p.length}")
    def mat(base: Int, r: Int, c: Int) = Array.tabulate(r, c)((i, j) => p(base + i * c + j))
    def vec(base: Int, n: Int) = Array.tabulate(n)(j => p(base + j))
    def cell(base: Int) = GruCell(
      mat(base, H, 2 * H),
      mat(base + H * 2 * H, H, 2 * H),
      vec(base + 2 * H * 2 * H, 2 * H),
      mat(base + 2 * H * 2 * H + 2 * H, H, H),
      mat(base + 2 * H * 2 * H + 2 * H + H * H, H, H),
      vec(base + 2 * H * 2 * H + 2 * H + 2 * H * H, H))
    val offA = F * H; val offB = offA + GruCellSz
    val offWAlpha = offB + GruCellSz; val offBAlpha = offWAlpha + H
    val offWBeta = offBAlpha + 1; val offBBeta = offWBeta + H * H
    val offHeads = offBBeta + H; val offHeadB = offHeads + K * H
    RetainWeights(
      v = mat(0, F, H),
      alphaCell = cell(offA),
      betaCell = cell(offB),
      wAlpha = vec(offWAlpha, H),
      bAlpha = p(offBAlpha),
      wBeta = mat(offWBeta, H, H),
      bBeta = vec(offBBeta, H),
      heads = mat(offHeads, K, H),
      headB = vec(offHeadB, K))
  }

  /** Pack weights into the flat layout (for Adam on the driver). */
  def pack(w: RetainWeights): Array[Double] = {
    val out = new Array[Double](Dim)
    var o = OffV
    for (i <- 0 until F; j <- 0 until H) { out(o) = w.v(i)(j); o += 1 }
    def packCell(c: LstmCell, base: Int): Unit = {
      var p = base
      for (i <- 0 until H; j <- 0 until 4 * H) { out(p) = c.wx(i)(j); p += 1 }
      for (i <- 0 until H; j <- 0 until 4 * H) { out(p) = c.wh(i)(j); p += 1 }
      for (j <- 0 until 4 * H) { out(p) = c.b(j); p += 1 }
    }
    packCell(lstm(w.alphaCell), OffACell)
    packCell(lstm(w.betaCell), OffBCell)
    for (j <- 0 until H) out(OffWAlpha + j) = w.wAlpha(j)
    out(OffBAlpha) = w.bAlpha
    for (i <- 0 until H; j <- 0 until H) out(OffWBeta + i * H + j) = w.wBeta(i)(j)
    for (j <- 0 until H) out(OffBBeta + j) = w.bBeta(j)
    for (k <- 0 until K; j <- 0 until H) out(OffHeads + k * H + j) = w.heads(k)(j)
    for (k <- 0 until K) out(OffHeadB + k) = w.headB(k)
    out
  }

  /** Unpack the flat layout back into structured weights. */
  def unpack(p: Array[Double]): RetainWeights = {
    def mat(base: Int, r: Int, c: Int) = Array.tabulate(r, c)((i, j) => p(base + i * c + j))
    def cell(base: Int) = LstmCell(
      mat(base, H, 4 * H),
      mat(base + H * 4 * H, H, 4 * H),
      Array.tabulate(4 * H)(j => p(base + 2 * H * 4 * H + j)))
    RetainWeights(
      v = mat(OffV, F, H),
      alphaCell = cell(OffACell),
      betaCell = cell(OffBCell),
      wAlpha = Array.tabulate(H)(j => p(OffWAlpha + j)),
      bAlpha = p(OffBAlpha),
      wBeta = mat(OffWBeta, H, H),
      bBeta = Array.tabulate(H)(j => p(OffBBeta + j)),
      heads = mat(OffHeads, K, H),
      headB = Array.tabulate(K)(k => p(OffHeadB + k)))
  }

  /** Per-row loss and full gradient. `taskScale(k)` multiplies task k's
    * CE contribution ((1+μ‖B[k,:]‖₁)/√n_k in the AMTL objective).
    * Accumulates the flat gradient into `acc` (executor-local buffer)
    * and returns the row's scaled loss; `ceAcc`, when given, receives
    * the row's unscaled per-task CE.
    *
    * R11 train-mode dropout (reference `DropoutWrapper(output_keep_prob)`,
    * `model.py:114,204`): with `keepProb < 1`, the α/β LSTM *outputs* as
    * consumed by the attention projections are masked and inverted-scaled
    * (TF semantics: the recurrent state is NOT dropped, only the output
    * handed downstream). Masks are deterministic from `dropSeed` so the
    * gradient is finite-difference checkable and runs reproduce.
    */
  def rowGrad(w: RetainWeights, x: Array[Array[Double]], y: Array[Double],
              taskScale: Array[Double], acc: Array[Double],
              ceAcc: Array[Double] = null,
              keepProb: Double = 1.0, dropSeed: Long = 0L): Double = {
    val dropping = keepProb < 1.0
    val (maskA, maskB): (Array[Array[Double]], Array[Array[Double]]) =
      if (!dropping) (null, null)
      else {
        val prng = new Retain.Prng(dropSeed ^ 0x5DEECE66DL)
        val ma = Array.fill(T, H)(if (prng.next() + 0.5 < keepProb) 1.0 / keepProb else 0.0)
        val mb = Array.fill(T, H)(if (prng.next() + 0.5 < keepProb) 1.0 / keepProb else 0.0)
        (ma, mb)
      }
    // ---------- forward with caches ----------
    val e = Array.tabulate(T) { t =>
      val out = new Array[Double](H)
      var i = 0
      while (i < F) {
        val xi = x(t)(i)
        if (xi != 0.0) { val vr = w.v(i); var j = 0; while (j < H) { out(j) += xi * vr(j); j += 1 } }
        i += 1
      }
      out
    }
    val rev = Array.tabulate(T)(t => e(T - 1 - t))

    // LSTM forward with full gate caches
    final case class LstmTrace(i: Array[Array[Double]], j: Array[Array[Double]],
                               f: Array[Array[Double]], o: Array[Array[Double]],
                               c: Array[Array[Double]], h: Array[Array[Double]])
    def runLstm(cell: LstmCell): LstmTrace = {
      val ig = Array.ofDim[Double](T, H); val jg = Array.ofDim[Double](T, H)
      val fg = Array.ofDim[Double](T, H); val og = Array.ofDim[Double](T, H)
      val cs = Array.ofDim[Double](T, H); val hs = Array.ofDim[Double](T, H)
      var cPrev = new Array[Double](H); var hPrev = new Array[Double](H)
      var t = 0
      while (t < T) {
        val g = new Array[Double](4 * H)
        System.arraycopy(cell.b, 0, g, 0, 4 * H)
        var i = 0
        while (i < H) {
          val xi = rev(t)(i); val hi = hPrev(i)
          if (xi != 0.0 || hi != 0.0) {
            val wxr = cell.wx(i); val whr = cell.wh(i)
            var jj = 0
            while (jj < 4 * H) { g(jj) += xi * wxr(jj) + hi * whr(jj); jj += 1 }
          }
          i += 1
        }
        var k = 0
        while (k < H) {
          ig(t)(k) = sigmoid(g(k))
          jg(t)(k) = math.tanh(g(H + k))
          fg(t)(k) = sigmoid(g(2 * H + k) + 1.0)
          og(t)(k) = sigmoid(g(3 * H + k))
          cs(t)(k) = fg(t)(k) * cPrev(k) + ig(t)(k) * jg(t)(k)
          hs(t)(k) = og(t)(k) * math.tanh(cs(t)(k))
          k += 1
        }
        cPrev = cs(t); hPrev = hs(t)
        t += 1
      }
      LstmTrace(ig, jg, fg, og, cs, hs)
    }
    val trA = runLstm(lstm(w.alphaCell))
    val trB = runLstm(lstm(w.betaCell))

    // dropped-output views consumed by the attention projections (R11)
    @inline def hA(t: Int, j: Int): Double =
      if (dropping) trA.h(t)(j) * maskA(t)(j) else trA.h(t)(j)
    @inline def hB(t: Int, j: Int): Double =
      if (dropping) trB.h(t)(j) * maskB(t)(j) else trB.h(t)(j)

    val scores = Array.tabulate(T) { t =>
      var sc = w.bAlpha; var j = 0
      while (j < H) { sc += hA(t, j) * w.wAlpha(j); j += 1 }
      sc
    }
    val mx = scores.max
    val ez = scores.map(s => math.exp(s - mx)); val sez = ez.sum
    val alphaRev = ez.map(_ / sez)

    val betaPre = Array.tabulate(T) { t =>
      val out = new Array[Double](H)
      var j = 0
      while (j < H) {
        var a = w.bBeta(j); var i = 0
        while (i < H) { a += hB(t, i) * w.wBeta(i)(j); i += 1 }
        out(j) = a; j += 1
      }
      out
    }
    val betaRev = betaPre.map(_.map(math.tanh))

    val alpha = Array.tabulate(T)(t => alphaRev(T - 1 - t))
    val beta = Array.tabulate(T)(t => betaRev(T - 1 - t))
    val ctx = new Array[Double](H)
    locally {
      var t = 0
      while (t < T) {
        val a = alpha(t); val bt = beta(t); val et = e(t)
        var j = 0
        while (j < H) { ctx(j) += a * bt(j) * et(j); j += 1 }
        t += 1
      }
    }

    var loss = 0.0
    val dlogit = new Array[Double](K)
    for (k <- 0 until K) {
      var z = w.headB(k); var j = 0
      while (j < H) { z += ctx(j) * w.heads(k)(j); j += 1 }
      val ceK = sigmoidCe(z, y(k))
      if (ceAcc != null) ceAcc(k) += ceK
      loss += taskScale(k) * ceK
      dlogit(k) = taskScale(k) * (sigmoid(z) - y(k))
    }

    // ---------- backward ----------
    val dctx = new Array[Double](H)
    for (k <- 0 until K) {
      val dk = dlogit(k)
      var j = 0
      while (j < H) {
        acc(OffHeads + k * H + j) += dk * ctx(j)
        dctx(j) += dk * w.heads(k)(j)
        j += 1
      }
      acc(OffHeadB + k) += dk
    }

    // context contraction: ctx_j = Σ_t α_t β_tj e_tj
    val dAlpha = new Array[Double](T)            // un-reversed order
    val dBetaRev = Array.ofDim[Double](T, H)     // reversed order
    val dE = Array.ofDim[Double](T, H)           // un-reversed order
    locally {
      var t = 0
      while (t < T) {
        val a = alpha(t); val bt = beta(t); val et = e(t)
        var j = 0
        while (j < H) {
          val dj = dctx(j)
          dAlpha(t) += dj * bt(j) * et(j)
          dBetaRev(T - 1 - t)(j) = dj * a * et(j)
          dE(t)(j) += dj * a * bt(j)
          j += 1
        }
        t += 1
      }
    }

    // α softmax Jacobian (reversed order): ds = α ⊙ (dα − Σ dα·α)
    val dAlphaRev = Array.tabulate(T)(t => dAlpha(T - 1 - t))
    var dotA = 0.0
    locally { var t = 0; while (t < T) { dotA += dAlphaRev(t) * alphaRev(t); t += 1 } }
    val dScore = Array.tabulate(T)(t => alphaRev(t) * (dAlphaRev(t) - dotA))

    // score projection: score_t = hA_t·wα + bα
    val dHA = Array.ofDim[Double](T, H)
    locally {
      var t = 0
      while (t < T) {
        val ds = dScore(t)
        acc(OffBAlpha) += ds
        var j = 0
        while (j < H) {
          acc(OffWAlpha + j) += ds * hA(t, j)
          dHA(t)(j) = ds * w.wAlpha(j) * (if (dropping) maskA(t)(j) else 1.0)
          j += 1
        }
        t += 1
      }
    }

    // β path: β = tanh(hB·Wβ + bβ)
    val dHB = Array.ofDim[Double](T, H)
    locally {
      var t = 0
      while (t < T) {
        var j = 0
        while (j < H) {
          val dpre = dBetaRev(t)(j) * (1.0 - betaRev(t)(j) * betaRev(t)(j))
          acc(OffBBeta + j) += dpre
          var i = 0
          while (i < H) {
            acc(OffWBeta + i * H + j) += dpre * hB(t, i)
            dHB(t)(i) += dpre * w.wBeta(i)(j) * (if (dropping) maskB(t)(i) else 1.0)
            i += 1
          }
          j += 1
        }
        t += 1
      }
    }

    // BPTT through one LSTM; returns input grads per (reversed) step
    def bptt(cell: LstmCell, tr: LstmTrace, dH: Array[Array[Double]],
             base: Int): Array[Array[Double]] = {
      val dX = Array.ofDim[Double](T, H)
      val dcNext = new Array[Double](H)
      val dhNext = new Array[Double](H)
      var t = T - 1
      while (t >= 0) {
        val dh = new Array[Double](H)
        locally { var k = 0; while (k < H) { dh(k) = dH(t)(k) + dhNext(k); k += 1 } }
        val dg = new Array[Double](4 * H) // gate pre-activation grads
        var k = 0
        while (k < H) {
          val tc = math.tanh(tr.c(t)(k))
          val dc = dh(k) * tr.o(t)(k) * (1.0 - tc * tc) + dcNext(k)
          val cPrev = if (t == 0) 0.0 else tr.c(t - 1)(k)
          val di = dc * tr.j(t)(k) * tr.i(t)(k) * (1.0 - tr.i(t)(k))
          val dj = dc * tr.i(t)(k) * (1.0 - tr.j(t)(k) * tr.j(t)(k))
          val df = dc * cPrev * tr.f(t)(k) * (1.0 - tr.f(t)(k))
          val dout = dh(k) * tc * tr.o(t)(k) * (1.0 - tr.o(t)(k))
          dg(k) = di; dg(H + k) = dj; dg(2 * H + k) = df; dg(3 * H + k) = dout
          dcNext(k) = dc * tr.f(t)(k)
          k += 1
        }
        // param + input + recurrent grads
        val hPrev: Array[Double] = if (t == 0) null else tr.h(t - 1)
        java.util.Arrays.fill(dhNext, 0.0)
        var i = 0
        while (i < H) {
          val xi = rev(t)(i)
          val hi = if (t == 0) 0.0 else hPrev(i)
          var jj = 0
          var dxi = 0.0
          var dhi = 0.0
          val wxr = cell.wx(i); val whr = cell.wh(i)
          while (jj < 4 * H) {
            val d = dg(jj)
            if (d != 0.0) {
              acc(base + i * 4 * H + jj) += xi * d
              acc(base + H * 4 * H + i * 4 * H + jj) += hi * d
              dxi += wxr(jj) * d
              dhi += whr(jj) * d
            }
            jj += 1
          }
          dX(t)(i) = dxi
          dhNext(i) = dhi
          i += 1
        }
        locally { var jj = 0; while (jj < 4 * H) { acc(base + 2 * H * 4 * H + jj) += dg(jj); jj += 1 } }
        t -= 1
      }
      dX
    }
    val dXA = bptt(lstm(w.alphaCell), trA, dHA, OffACell)
    val dXB = bptt(lstm(w.betaCell), trB, dHB, OffBCell)

    // fold RNN input grads (reversed) back into dE (un-reversed)
    locally {
      var t = 0
      while (t < T) {
        var j = 0
        while (j < H) {
          dE(T - 1 - t)(j) += dXA(t)(j) + dXB(t)(j)
          j += 1
        }
        t += 1
      }
    }

    // embedding: e_t = x_t · V  ⇒ dV += x_t ⊗ dE_t
    locally {
      var t = 0
      while (t < T) {
        var i = 0
        while (i < F) {
          val xi = x(t)(i)
          if (xi != 0.0) {
            var j = 0
            while (j < H) { acc(OffV + i * H + j) += xi * dE(t)(j); j += 1 }
          }
          i += 1
        }
        t += 1
      }
    }
    loss
  }
}
