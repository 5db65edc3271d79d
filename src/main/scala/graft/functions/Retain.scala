package graft.functions

/** RETAIN forward kernel (reference `model.py:108-154`) in plain Scala —
  * the one reference capability with no relational form (SURVEY.md §7.5:
  * the LSTM recurrence is irreducibly sequential per row). Executors run
  * this per entity row under a broadcast [[RetainWeights]]; all
  * parallelism is across rows, exactly the reference's batch axis.
  *
  * Architecture (shapes per `model.py:119-127,150-151`, scaled to the
  * testdata's 5 event-type features and 11 daily steps):
  *   embed   e_t = x_t · V                      V: [F=5, H=8]     (R7)
  *   reverse over time                                            (R9)
  *   α-RNN   LSTM(H) over reversed e; a_t = h_t·wα + bα → softmax (R10,R13)
  *   β-RNN   LSTM(H) over reversed e; β_t = tanh(g_t·Wβ + bβ)     (R10,R14)
  *   context c = Σ_t α_t · (β_t ⊙ e_t)  (un-reversed)             (R15)
  *   head    p = σ(c·w_task + b_task) per task                    (R16,R17)
  *
  * Weight sharing follows §0.3.6: V, both RNNs and attention params are
  * shared across tasks; only the 9-param head (8 weights + bias) is
  * task-specific. Eval mode only (keep_prob=1, `model.py:207`) — no
  * dropout, so scoring is deterministic.
  */
object Retain {
  val F = 5   // input features per step (event types)
  val T = 11  // time steps (fixed grid, cf. steps=11 run.py:18)
  val H = 8   // hidden units
  val numTasks = 3

  /** All shared parameters + per-task heads, as flat immutable arrays.
    * The α/β recurrences take either cell kind (reference
    * `model.py:109-115`: `use_lstm` picks LSTMCell vs the GRUCell
    * fallback); training (RetainGrad) supports the LSTM default.
    */
  final case class RetainWeights(
      v: Array[Array[Double]],        // [F][H]
      alphaCell: RnnCell,
      betaCell: RnnCell,
      wAlpha: Array[Double],          // [H] -> scalar score
      bAlpha: Double,
      wBeta: Array[Array[Double]],    // [H][H]
      bBeta: Array[Double],           // [H]
      heads: Array[Array[Double]],    // [numTasks][H]
      headB: Array[Double])           // [numTasks]

  /** A recurrent cell the α/β RNNs can run over a (reversed) embedded
    * sequence; returns the hidden state per step. */
  sealed trait RnnCell {
    def runSeq(xs: Array[Array[Double]]): Array[Array[Double]]
  }

  /** Single-layer LSTM cell, `tf.nn.rnn_cell.LSTMCell(H)` semantics
    * (no peepholes, forget-bias 1.0 like TF's default).
    * Gate layout per input: [i, j(candidate), f, o], TF order.
    */
  final case class LstmCell(
      wx: Array[Array[Double]],  // [H][4H] input→gates
      wh: Array[Array[Double]],  // [H][4H] hidden→gates
      b: Array[Double])          // [4H]
      extends RnnCell {

    /** One step; returns new (c, h). */
    def step(x: Array[Double], c: Array[Double], h: Array[Double]): (Array[Double], Array[Double]) = {
      val g = new Array[Double](4 * H)
      System.arraycopy(b, 0, g, 0, 4 * H)
      var i = 0
      while (i < H) {
        val xi = x(i); val hi = h(i)
        if (xi != 0.0 || hi != 0.0) {
          val wxr = wx(i); val whr = wh(i)
          var j = 0
          while (j < 4 * H) { g(j) += xi * wxr(j) + hi * whr(j); j += 1 }
        }
        i += 1
      }
      val nc = new Array[Double](H)
      val nh = new Array[Double](H)
      var k = 0
      while (k < H) {
        val ig = sigmoid(g(k))
        val jg = math.tanh(g(H + k))
        val fg = sigmoid(g(2 * H + k) + 1.0) // forget bias 1.0
        val og = sigmoid(g(3 * H + k))
        nc(k) = fg * c(k) + ig * jg
        nh(k) = og * math.tanh(nc(k))
        k += 1
      }
      (nc, nh)
    }

    def runSeq(xs: Array[Array[Double]]): Array[Array[Double]] = {
      var c = new Array[Double](H)
      var h = new Array[Double](H)
      Array.tabulate(xs.length) { t =>
        val (nc, nh) = step(xs(t), c, h)
        c = nc; h = nh
        nh
      }
    }
  }

  /** Single-layer GRU cell, `tf.contrib.rnn.GRUCell(H)` semantics — the
    * reference's `use_lstm=False` fallback (`model.py:110-111`):
    *   [r, u] = σ([x, h]·W_g + b_g)      (gate layout [r, u], TF order)
    *   c      = tanh([x, r⊙h]·W_c + b_c)
    *   h'     = u⊙h + (1−u)⊙c
    * No runtime bias constant (TF's 1.0 is an initializer, not an add).
    */
  final case class GruCell(
      wxG: Array[Array[Double]],  // [H][2H] input→(r,u)
      whG: Array[Array[Double]],  // [H][2H] hidden→(r,u)
      bG: Array[Double],          // [2H]
      wxC: Array[Array[Double]],  // [H][H] input→candidate
      whC: Array[Array[Double]],  // [H][H] (r⊙h)→candidate
      bC: Array[Double])          // [H]
      extends RnnCell {

    /** One step; returns the new hidden state. */
    def step(x: Array[Double], h: Array[Double]): Array[Double] = {
      val g = new Array[Double](2 * H)
      System.arraycopy(bG, 0, g, 0, 2 * H)
      var i = 0
      while (i < H) {
        val xi = x(i); val hi = h(i)
        if (xi != 0.0 || hi != 0.0) {
          val wxr = wxG(i); val whr = whG(i)
          var j = 0
          while (j < 2 * H) { g(j) += xi * wxr(j) + hi * whr(j); j += 1 }
        }
        i += 1
      }
      val cand = new Array[Double](H)
      System.arraycopy(bC, 0, cand, 0, H)
      i = 0
      while (i < H) {
        val xi = x(i)
        val rhi = sigmoid(g(i)) * h(i) // reset gate applies to h elementwise
        if (xi != 0.0 || rhi != 0.0) {
          val wxr = wxC(i); val whr = whC(i)
          var j = 0
          while (j < H) { cand(j) += xi * wxr(j) + rhi * whr(j); j += 1 }
        }
        i += 1
      }
      val nh = new Array[Double](H)
      var k = 0
      while (k < H) {
        val u = sigmoid(g(H + k))
        nh(k) = u * h(k) + (1.0 - u) * math.tanh(cand(k))
        k += 1
      }
      nh
    }

    def runSeq(xs: Array[Array[Double]]): Array[Array[Double]] = {
      var h = new Array[Double](H)
      Array.tabulate(xs.length) { t =>
        h = step(xs(t), h)
        h
      }
    }
  }

  @inline def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Stable sigmoid cross-entropy with logits (`model.py:159`). */
  @inline def sigmoidCe(z: Double, y: Double): Double =
    math.max(z, 0.0) - z * y + math.log1p(math.exp(-math.abs(z)))

  /** Deterministic params: xorshift64* PRNG mapped to U(-0.5, 0.5),
    * seeded per parameter group — reproducible across JVMs (no
    * java.util.Random dependency on iteration order).
    */
  final class Prng(seed0: Long) {
    private var s: Long = if (seed0 == 0) 0x9E3779B97F4A7C15L else seed0
    def next(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      val x = s * 0x2545F4914F6CDD1DL
      ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    def mat(r: Int, c: Int): Array[Array[Double]] = Array.fill(r, c)(next())
    def vec(n: Int): Array[Double] = Array.fill(n)(next())
  }

  /** The engine's fixed eval-time weights (seed 42 lineage). */
  def defaultWeights: RetainWeights = {
    val p = new Prng(42L)
    RetainWeights(
      v = p.mat(F, H),
      alphaCell = LstmCell(p.mat(H, 4 * H), p.mat(H, 4 * H), p.vec(4 * H)),
      betaCell = LstmCell(p.mat(H, 4 * H), p.mat(H, 4 * H), p.vec(4 * H)),
      wAlpha = p.vec(H),
      bAlpha = p.next(),
      wBeta = p.mat(H, H),
      bBeta = p.vec(H),
      heads = p.mat(numTasks, H),
      headB = p.vec(numTasks))
  }

  /** GRU-cell variant of the eval-time weights (`use_lstm=False`
    * fallback, `model.py:110-111`) — its own deterministic seed lineage
    * so GRU scoring is reproducible and distinct from the LSTM default.
    */
  def defaultGruWeights: RetainWeights = {
    val p = new Prng(43L)
    def gru() = GruCell(p.mat(H, 2 * H), p.mat(H, 2 * H), p.vec(2 * H),
      p.mat(H, H), p.mat(H, H), p.vec(H))
    RetainWeights(
      v = p.mat(F, H),
      alphaCell = gru(),
      betaCell = gru(),
      wAlpha = p.vec(H),
      bAlpha = p.next(),
      wBeta = p.mat(H, H),
      bBeta = p.vec(H),
      heads = p.mat(numTasks, H),
      headB = p.vec(numTasks))
  }

  /** float32 scoring mode (reference `model.py:45`: the TF graph runs
    * float32 end-to-end, while the engine's default kernel is float64 —
    * the SURVEY §7.4 documented divergence). This path reproduces the
    * reference's precision regime: every weight is cast to Float once
    * and every intermediate op rounds to float32 (JVM float arithmetic
    * rounds per-op exactly like TF's f32 kernels), closing the
    * TF-parity testing gap for scoring. Supports both cell kinds.
    */
  object F32 {
    @inline private def sig(z: Float): Float =
      (1.0 / (1.0 + math.exp(-z.toDouble))).toFloat
    /** f32 tanh via 1 − 2/(e^{2z}+1) in double, one rounding — the SAME
      * algebraic form the q204 oracle inlines (round-9 ADVICE: math.tanh
      * and this expression can differ by >1 ulp in the double
      * intermediate, making the 'one rounding, same bits' parity
      * probabilistic; mirroring the form leaves libm-exp's ≤1-ulp
      * double difference as the only cross-engine channel, annihilated
      * by the 29-bit drop to f32 except within ~2^-29 ulps of a
      * midpoint). */
    @inline private def tanhF(z: Float): Float =
      (1.0 - 2.0 / (math.exp(2.0 * z.toDouble) + 1.0)).toFloat

    /** A cell whose parameters are already Float-typed. */
    sealed trait Cell32 {
      def runSeq(xs: Array[Array[Float]]): Array[Array[Float]]
    }

    final case class Lstm32(wx: Array[Array[Float]], wh: Array[Array[Float]],
        b: Array[Float]) extends Cell32 {
      def runSeq(xs: Array[Array[Float]]): Array[Array[Float]] = {
        var c = new Array[Float](H)
        var h = new Array[Float](H)
        xs.map { xv =>
          val g = b.clone()
          var i = 0
          while (i < H) {
            val xi = xv(i); val hi = h(i)
            if (xi != 0f || hi != 0f) {
              val wxr = wx(i); val whr = wh(i)
              var j = 0
              while (j < 4 * H) { g(j) = g(j) + xi * wxr(j) + hi * whr(j); j += 1 }
            }
            i += 1
          }
          val nc = new Array[Float](H)
          val nh = new Array[Float](H)
          var k = 0
          while (k < H) {
            val ig = sig(g(k))
            val jg = tanhF(g(H + k))
            val fg = sig(g(2 * H + k) + 1.0f)
            val og = sig(g(3 * H + k))
            nc(k) = fg * c(k) + ig * jg
            nh(k) = og * tanhF(nc(k))
            k += 1
          }
          c = nc; h = nh
          nh
        }
      }
    }

    final case class Gru32(wxG: Array[Array[Float]], whG: Array[Array[Float]],
        bG: Array[Float], wxC: Array[Array[Float]], whC: Array[Array[Float]],
        bC: Array[Float]) extends Cell32 {
      def runSeq(xs: Array[Array[Float]]): Array[Array[Float]] = {
        var h = new Array[Float](H)
        xs.map { xv =>
          val g = bG.clone()
          var i = 0
          while (i < H) {
            val xi = xv(i); val hi = h(i)
            if (xi != 0f || hi != 0f) {
              val wxr = wxG(i); val whr = whG(i)
              var j = 0
              while (j < 2 * H) { g(j) = g(j) + xi * wxr(j) + hi * whr(j); j += 1 }
            }
            i += 1
          }
          val cand = bC.clone()
          i = 0
          while (i < H) {
            val xi = xv(i)
            val rhi = sig(g(i)) * h(i)
            if (xi != 0f || rhi != 0f) {
              val wxr = wxC(i); val whr = whC(i)
              var j = 0
              while (j < H) { cand(j) = cand(j) + xi * wxr(j) + rhi * whr(j); j += 1 }
            }
            i += 1
          }
          val nh = new Array[Float](H)
          var k = 0
          while (k < H) {
            val u = sig(g(H + k))
            nh(k) = u * h(k) + (1f - u) * tanhF(cand(k))
            k += 1
          }
          h = nh
          nh
        }
      }
    }

    /** All parameters Float-typed, converted ONCE. Broadcast THIS for
      * corpus scoring (q204) — the per-row hot loop then converts only
      * the input grid, never the weights.
      */
    final case class W32(
        v: Array[Array[Float]],
        alphaCell: Cell32,
        betaCell: Cell32,
        wAlpha: Array[Float],
        bAlpha: Float,
        wBeta: Array[Array[Float]],
        bBeta: Array[Float],
        heads: Array[Array[Float]],
        headB: Array[Float])

    /** One-time Double→Float conversion of a weight set. */
    def prepare(w: RetainWeights): W32 = {
      def m(a: Array[Array[Double]]) = a.map(_.map(_.toFloat))
      def vec(a: Array[Double]) = a.map(_.toFloat)
      def cell(c: RnnCell): Cell32 = c match {
        case l: LstmCell => Lstm32(m(l.wx), m(l.wh), vec(l.b))
        case g: GruCell =>
          Gru32(m(g.wxG), m(g.whG), vec(g.bG), m(g.wxC), m(g.whC), vec(g.bC))
      }
      W32(m(w.v), cell(w.alphaCell), cell(w.betaCell), vec(w.wAlpha),
        w.bAlpha.toFloat, m(w.wBeta), vec(w.bBeta), m(w.heads), vec(w.headB))
    }

    /** Convenience form for tests/one-off calls; converts per call —
      * corpus scoring should prepare() once and use the W32 overload. */
    def forward(w: RetainWeights, x: Array[Array[Double]]): Array[Double] =
      forward(prepare(w), x)

    /** float32 forward; returns probs[numTasks] (as doubles carrying
      * float32-valued results, so callers keep one numeric type). */
    def forward(p: W32, x: Array[Array[Double]]): Array[Double] = {
      val e = Array.tabulate(T) { t =>
        val out = new Array[Float](H)
        var i = 0
        while (i < F) {
          val xi = x(t)(i).toFloat
          if (xi != 0f) {
            val vr = p.v(i)
            var j = 0
            while (j < H) { out(j) = out(j) + xi * vr(j); j += 1 }
          }
          i += 1
        }
        out
      }
      val rev = Array.tabulate(T)(t => e(T - 1 - t))
      val hA = p.alphaCell.runSeq(rev)
      val hB = p.betaCell.runSeq(rev)
      val scores = Array.tabulate(T) { t =>
        var sc = p.bAlpha
        var j = 0
        while (j < H) { sc = sc + hA(t)(j) * p.wAlpha(j); j += 1 }
        sc
      }
      val mx = scores.max
      val ez = scores.map(sc => math.exp((sc - mx).toDouble).toFloat)
      var sez = 0f
      ez.foreach(v => sez = sez + v)
      val alphaRev = ez.map(v => v / sez)
      val betaRev = Array.tabulate(T) { t =>
        val out = new Array[Float](H)
        var j = 0
        while (j < H) {
          var acc = p.bBeta(j)
          var i = 0
          while (i < H) { acc = acc + hB(t)(i) * p.wBeta(i)(j); i += 1 }
          out(j) = tanhF(acc)
          j += 1
        }
        out
      }
      val ctx = new Array[Float](H)
      var t = 0
      while (t < T) {
        val a = alphaRev(T - 1 - t); val bt = betaRev(T - 1 - t); val et = e(t)
        var j = 0
        while (j < H) { ctx(j) = ctx(j) + a * bt(j) * et(j); j += 1 }
        t += 1
      }
      Array.tabulate(numTasks) { k =>
        var z = p.headB(k)
        var j = 0
        while (j < H) { z = z + ctx(j) * p.heads(k)(j); j += 1 }
        sig(z).toDouble
      }
    }
  }

  /** Forward pass for one entity. Input: dense [T][F] series.
    * Returns (probs[numTasks], alpha[T], context[H]).
    */
  def forward(w: RetainWeights, x: Array[Array[Double]]): (Array[Double], Array[Double], Array[Double]) = {
    // R7: embed each step
    val e = Array.tabulate(T) { t =>
      val out = new Array[Double](H)
      var i = 0
      while (i < F) {
        val xi = x(t)(i)
        if (xi != 0.0) {
          val vr = w.v(i)
          var j = 0
          while (j < H) { out(j) += xi * vr(j); j += 1 }
        }
        i += 1
      }
      out
    }
    // R9: reverse time
    val rev = Array.tabulate(T)(t => e(T - 1 - t))
    // R10 α/β recurrences over reversed sequence (LSTM or GRU cell)
    val hA = w.alphaCell.runSeq(rev)
    val hB = w.betaCell.runSeq(rev)
    // R12+R13: attention scores → stable softmax (still in reversed order)
    val scores = Array.tabulate(T) { t =>
      var sc = w.bAlpha
      var j = 0
      while (j < H) { sc += hA(t)(j) * w.wAlpha(j); j += 1 }
      sc
    }
    val mx = scores.max
    val ez = scores.map(sc => math.exp(sc - mx))
    val sez = ez.sum
    val alphaRev = ez.map(_ / sez)
    // R14: β gates
    val betaRev = Array.tabulate(T) { t =>
      val out = new Array[Double](H)
      var j = 0
      while (j < H) {
        var acc = w.bBeta(j)
        var i = 0
        while (i < H) { acc += hB(t)(i) * w.wBeta(i)(j); i += 1 }
        out(j) = math.tanh(acc)
        j += 1
      }
      out
    }
    // un-reverse (model.py:142,144) and contract: c = Σ_t α_t (β_t ⊙ e_t)
    val alpha = Array.tabulate(T)(t => alphaRev(T - 1 - t))
    val beta = Array.tabulate(T)(t => betaRev(T - 1 - t))
    val ctx = new Array[Double](H)
    var t = 0
    while (t < T) {
      val a = alpha(t); val bt = beta(t); val et = e(t)
      var j = 0
      while (j < H) { ctx(j) += a * bt(j) * et(j); j += 1 }
      t += 1
    }
    // R16+R17: heads
    val probs = Array.tabulate(numTasks) { k =>
      var z = w.headB(k)
      var j = 0
      while (j < H) { z += ctx(j) * w.heads(k)(j); j += 1 }
      sigmoid(z)
    }
    (probs, alpha, ctx)
  }
}
