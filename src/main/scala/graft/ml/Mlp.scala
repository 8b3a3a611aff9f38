package graft.ml

import scala.util.Random

/** BatchNorm parameters + running statistics for one layer's output
  * width (reference: Burn BatchNorm wired per-layer at
  * src/nn/model.rs:80-88, applied at src/nn/model.rs:117-119).
  *
  * Train mode normalizes with batch statistics and updates the running
  * estimates; eval mode normalizes with the running estimates
  * (standard BatchNorm1d semantics, momentum 0.1, eps 1e-5).
  */
final class BatchNormParams(val dim: Int) extends Serializable {
  val gamma: Array[Float] = Array.fill(dim)(1.0f)
  val beta: Array[Float] = new Array[Float](dim)
  val runningMean: Array[Float] = new Array[Float](dim)
  val runningVar: Array[Float] = Array.fill(dim)(1.0f)
  val momentum: Float = 0.1f
  val eps: Float = 1e-5f

  def copyOf(): BatchNormParams = {
    val c = new BatchNormParams(dim)
    System.arraycopy(gamma, 0, c.gamma, 0, dim)
    System.arraycopy(beta, 0, c.beta, 0, dim)
    System.arraycopy(runningMean, 0, c.runningMean, 0, dim)
    System.arraycopy(runningVar, 0, c.runningVar, 0, dim)
    c
  }
}

/** One dense layer: Linear → BatchNorm? → Dropout? → activation?
  * (pipeline order per reference src/nn/model.rs:110-136).
  *
  * Weights are row-major `w(i*out + o)`, f32 like the reference's
  * NdArray<f32> backend (src/nn/mod.rs:23).
  */
final class DenseLayer(
    val in: Int,
    val out: Int,
    val w: Array[Float],
    val b: Array[Float],
    val activation: Activation,
    val bn: Option[BatchNormParams],
    val dropout: Float,
) extends Serializable {
  def copyOf(): DenseLayer =
    new DenseLayer(in, out, w.clone(), b.clone(), activation, bn.map(_.copyOf()), dropout)
}

/** Per-layer forward cache used by backprop, feature-major: each
  * `Array[Array[Float]]` holds one array of batch-row values per input
  * feature or output unit.
  */
private[ml] final class LayerTape(
    val x: Array[Array[Float]], // layer input, in × B
    val xhat: Array[Array[Float]], // bn-normalized z, out × B (null without bn)
    val invStd: Array[Float], // 1/sqrt(var+eps) per unit (null without bn)
    val dropMask: Array[Array[Float]], // inverted-dropout multipliers, out × B (null without dropout)
    val postDrop: Array[Array[Float]], // activation input, out × B
    val y: Array[Array[Float]], // layer output, out × B
)

/** Adam state for one parameter tensor (β1=0.9, β2=0.999 — Burn's
  * AdamConfig defaults, reference src/nn/train.rs:80).
  */
private[ml] final class AdamState(n: Int) {
  val m: Array[Float] = new Array[Float](n)
  val v: Array[Float] = new Array[Float](n)
}

final case class TrainStats(
    epochTrainMse: Array[Double],
    epochTestMse: Array[Double],
    trainRows: Int,
    testRows: Int,
)

/** A sequential fully-connected network with MSE + Adam training.
  *
  * Re-implements the reference's Burn-based model (src/nn/model.rs) and
  * training loop (src/nn/train.rs) in dependency-free Scala so it can
  * run on the Spark driver and be broadcast to executors for inference.
  * Deterministic given (initSeed, cfg.seed, input row order).
  *
  * Training kernels are feature-major: a batch is one `Array[Float]` of
  * row values per input feature or unit, and every inner loop of the
  * forward, backward and per-epoch evaluation runs over the batch rows
  * with every array indexed at the same 0-based position. That is the
  * shape JDK 17's C2 auto-vectorizes. Over 512-row arrays on one core
  * of a 4-vCPU AVX-512 x86 VM, `z(r) += x(r) * w` ran at ≈8–10 GMAC/s
  * (≈11–13 with four inputs per pass) and the offset form
  * `z(zOff + r) += x(xOff + r) * w` at ≈1.1 GMAC/s: C2 leaves a loop
  * scalar when its store and load offsets differ.
  *
  * Bit-identity contract (trained weights, BatchNorm statistics and
  * per-epoch MSEs; MlpSpec's golden digests pin them): every output
  * element sums bias first, then inputs in ascending order (four
  * inputs per pass, still left to right); `dW`, `dB` and the BatchNorm
  * sums accumulate rows in ascending order (`dW` on four independent
  * accumulators per pass, one per unit); dropout masks are drawn in
  * row-major order. No `Math.fma`, no reassociation: either changes
  * the rounding. A zero input is multiplied like any other: its
  * product is a signed zero, which changes no sum while weights are
  * finite.
  *
  * [[predict]] scores one row, input-major: the output starts as a
  * copy of the bias, then each pass over the output units adds four
  * inputs' contributions, `y(o) = y(o) + x0·w(b0+o) + … + x3·w(b3+o)`
  * with `bk = (i+k)·out`, and one pass per left-over input follows. It
  * reads the row-major weights as they are. Every unit sums bias
  * first, then inputs in ascending order, left to right, under the
  * same rule as above, so each output has the bits of one `+=` chain
  * per unit (MlpSpec's predict digests pin them), while C2 can run the
  * pass over the units in SIMD lanes. On the 5→64→32→1 relu net, one
  * core of a 4-vCPU AVX-512 x86 VM, 150k rows: ≈0.44–0.72M rows/s
  * (≈0.40M with C2's SuperWord off); one scalar `+=` chain per unit
  * ran ≈0.17–0.20M rows/s there.
  *
  * [[predictColumns]] scores a feature-major chunk with the training
  * kernels and keeps [[predict]]'s bits (MlpSpec runs the predict
  * digests through it). It is the one batch eval forward: `fit`'s
  * per-epoch MSE and the SQL batch scorer
  * (`org.apache.spark.sql.graftext.MlpScoreExec`, which serves SQL
  * `ml_pred` and `MlFunctions.predictCol` in a projection) both call it.
  * [[predict]] stays the reference it is pinned against and the row
  * fallback for a call the scorer does not take (under CASE, IF or
  * COALESCE, in a filter or an aggregate). Same net, core and rows,
  * 512-row chunks, transposition included: ≈3.8–4.6M rows/s against
  * ≈0.46–0.59M for [[predict]] row by row; 2048-row chunks ran within
  * that noise.
  */
final class Mlp(
    val name: String,
    val specJson: String,
    val spec: NetworkSpec,
    val layers: Array[DenseLayer],
) extends Serializable {

  def inputDim: Int = spec.inputDim
  def outputDim: Int = spec.outputDim

  def copyOf(): Mlp = new Mlp(name, specJson, spec, layers.map(_.copyOf()))

  // ---------------------------------------------------------------- forward

  /** Eval-mode forward for a single row (dropout off, BN running stats;
    * reference eval mode: src/nn/mod.rs:71, model.valid() drops autodiff
    * so dropout is inactive): the reference [[predictColumns]] is pinned
    * against and the row path of an `ml_pred` the batch scorer does not
    * take. The linear step is the input-major pass of
    * [[accumulateUnits]]; relu keeps a -0 input as -0.
    */
  def predict(x: Array[Float]): Array[Float] = {
    requireWidth(x.length)
    var cur = x
    var li = 0
    while (li < layers.length) {
      val l = layers(li)
      val outArr = l.b.clone()
      accumulateUnits(l, cur, outArr)
      l.bn.foreach { bn =>
        var o2 = 0
        while (o2 < l.out) {
          val inv = (1.0 / math.sqrt(bn.runningVar(o2) + bn.eps)).toFloat
          outArr(o2) = bn.gamma(o2) * ((outArr(o2) - bn.runningMean(o2)) * inv) + bn.beta(o2)
          o2 += 1
        }
      }
      applyActivationInPlace(l.activation, outArr)
      cur = outArr
      li += 1
    }
    cur
  }

  /** Fails with the message every scoring path gives for a feature row
    * of the wrong width.
    */
  def requireWidth(width: Int): Unit =
    require(width == inputDim, s"model '$name' expects $inputDim features, got $width")

  /** One `out × rows` output block per layer: the scratch
    * [[predictColumns]] writes into, for chunks of up to `rows` rows.
    */
  def columnBuffers(rows: Int): Array[Array[Array[Float]]] =
    layers.map(l => Array.ofDim[Float](l.out, rows))

  /** Eval-mode forward over a feature-major chunk: `x(i)(r)` is input
    * `i` of row `r`, for rows `[0, rows)`. Each layer writes its outputs
    * into `bufs(li)` (from [[columnBuffers]]); the result is the last
    * block, where `y(o)(r)` has the bits of `predict(row r)(o)`. Rows
    * are independent, so values left in `x` or `bufs` past `rows` or
    * from an earlier chunk change nothing.
    *
    * The linear step is [[linearInto]]'s feature-major pass, which sums
    * every unit in [[predict]]'s order. Relu is `if (a < 0f) a = 0f` on
    * the output layer, which keeps [[predict]]'s -0, and the
    * branch-free `Math.max` of [[activateRows]] on a hidden layer, unless
    * the next layer's bias or BatchNorm beta holds a -0: a hidden zero's
    * sign reaches an output only through a sum that starts from -0
    * (`-0 + -0` is -0, `+0 + ±0` is +0). The rule reads the parameters
    * on each call.
    */
  def predictColumns(x: Array[Array[Float]], rows: Int, bufs: Array[Array[Array[Float]]]): Array[Array[Float]] = {
    require(x.length == inputDim && bufs.length == layers.length, "predictColumns: input or buffers do not fit the model")
    var cur = x
    var li = 0
    while (li < layers.length) {
      val l = layers(li)
      val z = bufs(li)
      linearInto(l, cur, rows, z)
      val keepZeroSign = l.activation == Activation.Relu &&
        (li == layers.length - 1 || Mlp.holdsNegativeZero(layers(li + 1)))
      var o = 0
      while (o < l.out) {
        val zo = z(o)
        l.bn.foreach { bn =>
          val inv = (1.0 / math.sqrt(bn.runningVar(o) + bn.eps)).toFloat
          val g = bn.gamma(o); val mean = bn.runningMean(o); val beta = bn.beta(o)
          var r = 0
          while (r < rows) { zo(r) = g * ((zo(r) - mean) * inv) + beta; r += 1 }
        }
        if (keepZeroSign) {
          var r = 0
          while (r < rows) { if (zo(r) < 0f) zo(r) = 0f; r += 1 }
        } else activateRows(l.activation, zo, rows)
        o += 1
      }
      cur = z
      li += 1
    }
    cur
  }

  /** `y(o) += Σ_i x(i)·w(i·out+o)` for every unit `o`, `i` ascending:
    * passes over the units, four inputs per pass, then one pass per
    * left-over input. Each pass reads four contiguous weight rows and
    * adds its terms left to right, so every unit rounds exactly as it
    * would under one `+=` per input.
    */
  private def accumulateUnits(l: DenseLayer, x: Array[Float], y: Array[Float]): Unit = {
    val in = l.in
    val out = l.out
    val w = l.w
    var i = 0
    while (i + 4 <= in) {
      val x0 = x(i); val x1 = x(i + 1); val x2 = x(i + 2); val x3 = x(i + 3)
      val b0 = i * out; val b1 = b0 + out; val b2 = b1 + out; val b3 = b2 + out
      var o = 0
      while (o < out) {
        y(o) = y(o) + x0 * w(b0 + o) + x1 * w(b1 + o) + x2 * w(b2 + o) + x3 * w(b3 + o)
        o += 1
      }
      i += 4
    }
    while (i < in) {
      val xi = x(i)
      val bi = i * out
      var o = 0
      while (o < out) { y(o) += xi * w(bi + o); o += 1 }
      i += 1
    }
  }

  private def applyActivationInPlace(act: Activation, a: Array[Float]): Unit = act match {
    case Activation.Relu =>
      var i = 0
      while (i < a.length) { if (a(i) < 0f) a(i) = 0f; i += 1 }
    case Activation.Tanh =>
      var i = 0
      while (i < a.length) { a(i) = math.tanh(a(i)).toFloat; i += 1 }
    case Activation.Identity => ()
  }

  /** `dst(r) += Σ_k src(k)(r) · coef(off + k·stride)` for rows
    * `[0, rows)`, `k` ascending, four terms per pass over the rows.
    * Each pass adds its terms left to right, so every element rounds
    * exactly as it would under one `+=` per term.
    */
  private def accumulateRows(
      dst: Array[Float],
      src: Array[Array[Float]],
      coef: Array[Float],
      off: Int,
      stride: Int,
      rows: Int,
  ): Unit = {
    val n = src.length
    var k = 0
    while (k + 4 <= n) {
      val s0 = src(k); val s1 = src(k + 1); val s2 = src(k + 2); val s3 = src(k + 3)
      val c0 = coef(off + k * stride); val c1 = coef(off + (k + 1) * stride)
      val c2 = coef(off + (k + 2) * stride); val c3 = coef(off + (k + 3) * stride)
      var r = 0
      while (r < rows) { dst(r) = dst(r) + s0(r) * c0 + s1(r) * c1 + s2(r) * c2 + s3(r) * c3; r += 1 }
      k += 4
    }
    while (k < n) {
      val sk = src(k)
      val ck = coef(off + k * stride)
      var r = 0
      while (r < rows) { dst(r) += sk(r) * ck; r += 1 }
      k += 1
    }
  }

  /** Linear part of `l` over a feature-major batch into `z`'s first
    * `rows` rows: `z(o)(r) = b(o) + Σ_i x(i)(r)·w(i·out+o)`.
    */
  private def linearInto(l: DenseLayer, x: Array[Array[Float]], rows: Int, z: Array[Array[Float]]): Unit = {
    var o = 0
    while (o < l.out) {
      java.util.Arrays.fill(z(o), 0, rows, l.b(o))
      accumulateRows(z(o), x, l.w, o, l.out, rows)
      o += 1
    }
  }

  /** Activation over `a(0 until n)`, in place. Relu is `Math.max`,
    * which C2 compiles without a branch (a branch mispredicts on about
    * half of the rows: relu cost 2/3 of the eval pass). It maps -0 to +0
    * where [[predict]] keeps -0. In training the sign of a zero never
    * reaches a weight or a running statistic, because every sum it meets
    * starts from +0 or from a bias, and Adam steps from a +0 init never
    * make a bias -0; [[predictColumns]] states when it may reach an
    * eval output.
    */
  private def activateRows(act: Activation, a: Array[Float], n: Int): Unit = act match {
    case Activation.Relu =>
      var i = 0
      while (i < n) { a(i) = Math.max(a(i), 0f); i += 1 }
    case Activation.Tanh =>
      var i = 0
      while (i < n) { a(i) = math.tanh(a(i)).toFloat; i += 1 }
    case Activation.Identity => ()
  }

  /** Training-mode forward over a feature-major batch, recording tapes. */
  private def forwardTrain(x: Array[Array[Float]], rows: Int, rng: Random): Array[LayerTape] = {
    val tapes = new Array[LayerTape](layers.length)
    var cur = x
    var li = 0
    while (li < layers.length) {
      val l = layers(li)
      val out = l.out
      val z = Array.ofDim[Float](out, rows)
      linearInto(l, cur, rows, z)
      // BatchNorm (train mode: batch stats; update running stats)
      var afterBn = z
      var xhat: Array[Array[Float]] = null
      var invStd: Array[Float] = null
      l.bn.foreach { bn =>
        xhat = new Array[Array[Float]](out)
        invStd = new Array[Float](out)
        afterBn = new Array[Array[Float]](out)
        var o = 0
        while (o < out) {
          val zo = z(o)
          var sum = 0.0
          var r = 0
          while (r < rows) { sum += zo(r); r += 1 }
          val mean = (sum / rows).toFloat
          var sq = 0.0
          r = 0
          while (r < rows) {
            val d = zo(r) - mean
            sq += d * d
            r += 1
          }
          val varB = (sq / rows).toFloat // biased batch variance
          val inv = (1.0 / math.sqrt(varB + bn.eps)).toFloat
          invStd(o) = inv
          val g = bn.gamma(o)
          val beta = bn.beta(o)
          val xh = new Array[Float](rows)
          val a = new Array[Float](rows)
          r = 0
          while (r < rows) {
            xh(r) = (zo(r) - mean) * inv
            a(r) = g * xh(r) + beta
            r += 1
          }
          xhat(o) = xh
          afterBn(o) = a
          // running stats use the unbiased variance (torch/Burn convention)
          val varUnbiased = if (rows > 1) varB * rows / (rows - 1).toFloat else varB
          bn.runningMean(o) = (1 - bn.momentum) * bn.runningMean(o) + bn.momentum * mean
          bn.runningVar(o) = (1 - bn.momentum) * bn.runningVar(o) + bn.momentum * varUnbiased
          o += 1
        }
      }
      // Dropout (train mode, inverted scaling; masks drawn row-major)
      var afterDrop = afterBn
      var dropMask: Array[Array[Float]] = null
      if (l.dropout > 0f) {
        val keep = 1.0f - l.dropout
        dropMask = Array.ofDim[Float](out, rows)
        afterDrop = Array.ofDim[Float](out, rows)
        var r = 0
        while (r < rows) {
          var o = 0
          while (o < out) {
            val m = if (rng.nextFloat() < keep) 1.0f / keep else 0.0f
            dropMask(o)(r) = m
            afterDrop(o)(r) = afterBn(o)(r) * m
            o += 1
          }
          r += 1
        }
      }
      // Activation
      val y =
        if (l.activation == Activation.Identity) afterDrop
        else afterDrop.map { a =>
          val c = a.clone()
          activateRows(l.activation, c, rows)
          c
        }
      tapes(li) = new LayerTape(cur, xhat, invStd, dropMask, afterDrop, y)
      cur = y
      li += 1
    }
    tapes
  }

  // --------------------------------------------------------------- training

  /** Train with MSE loss + Adam, reproducing the reference loop
    * (src/nn/train.rs:39-135): seeded RNG, per-epoch shuffled
    * minibatches over the TRAIN split, per-epoch train/test MSE.
    *
    * Split compat: the reference keeps the FIRST 30% as train and the
    * rest as test (observed at src/nn/mod.rs:104-109 — the comment
    * claims the inverse; we reproduce the code's behavior by default).
    * Set `trainFraction = 1.0` for the sane whole-input training.
    */
  def fit(
      features: Array[Array[Float]],
      targets: Array[Array[Float]],
      cfg: TrainConfig,
      trainFraction: Double = 0.3,
      log: String => Unit = _ => (),
  ): TrainStats = {
    require(features.length == targets.length, "features/targets row counts differ")
    features.foreach { f =>
      require(f != null, "feature row is null")
      require(f.length == inputDim, s"feature row width ${f.length} != model input $inputDim")
    }
    targets.foreach { t =>
      require(t != null, "target row is null")
      require(t.length == outputDim, s"target row width ${t.length} != model output $outputDim")
    }
    val n = features.length
    val splitAt = math.min(n, (trainFraction * n).toInt)
    val trainIdx = (0 until splitAt).toArray
    val xT = Mlp.featureMajor(features, inputDim)
    val tT = Mlp.featureMajor(targets, outputDim)

    val rng = new Random(cfg.seed)
    val adam = newAdamStates()
    var t = 0 // Adam timestep

    val trainMse = new Array[Double](cfg.epochs)
    val testMse = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      // per-epoch shuffle of the train split (reference shuffles via the
      // seeded DataLoader, src/nn/train.rs:72-76)
      val order = shuffled(trainIdx, rng)
      var pos = 0
      while (pos < order.length) {
        val bEnd = math.min(pos + cfg.batchSize, order.length)
        val bRows = bEnd - pos
        val xb = new Array[Float](bRows * inputDim)
        val yb = new Array[Float](bRows * outputDim)
        var r = 0
        while (r < bRows) {
          System.arraycopy(features(order(pos + r)), 0, xb, r * inputDim, inputDim)
          System.arraycopy(targets(order(pos + r)), 0, yb, r * outputDim, outputDim)
          r += 1
        }
        t += 1
        step(xb, yb, bRows, cfg.learningRate, adam, t, rng)
        pos = bEnd
      }
      trainMse(epoch) = evalMse(xT, tT, 0, splitAt)
      testMse(epoch) = evalMse(xT, tT, splitAt, n)
      log(
        f"[train] model=$name epoch=${epoch + 1}%d/${cfg.epochs}%d " +
          f"train_mse=${trainMse(epoch)}%.6f test_mse=${testMse(epoch)}%.6f",
      )
      epoch += 1
    }
    TrainStats(trainMse, testMse, splitAt, n - splitAt)
  }

  private def shuffled(idx: Array[Int], rng: Random): Array[Int] = {
    val a = idx.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
    a
  }

  /** MSE of eval-mode predictions over rows `[from, until)` of the
    * feature-major input, through [[predictColumns]] in chunks of
    * [[Mlp.EvalChunk]] rows. Each prediction has [[predict]]'s bits;
    * errors sum in row order, then output order, as a loop over
    * [[predict]] would.
    */
  private def evalMse(xT: Array[Array[Float]], tT: Array[Array[Float]], from: Int, until: Int): Double = {
    if (from >= until) return Double.NaN
    val chunk = math.min(Mlp.EvalChunk, until - from)
    val xBuf = Array.ofDim[Float](inputDim, chunk)
    val bufs = columnBuffers(chunk)
    var sum = 0.0
    var start = from
    while (start < until) {
      val rows = math.min(chunk, until - start)
      var i = 0
      while (i < inputDim) { System.arraycopy(xT(i), start, xBuf(i), 0, rows); i += 1 }
      val y = predictColumns(xBuf, rows, bufs)
      var r = 0
      while (r < rows) {
        var o = 0
        while (o < outputDim) {
          val d = y(o)(r) - tT(o)(start + r)
          sum += d * d
          o += 1
        }
        r += 1
      }
      start += rows
    }
    sum / ((until - from).toLong * outputDim)
  }

  /** One minibatch: forward, MSE-mean backward, Adam update. */
  private def step(
      xb: Array[Float],
      yb: Array[Float],
      rows: Int,
      lr: Float,
      adam: Array[AdamState],
      t: Int,
      rng: Random,
  ): Unit = {
    val grads = backwardBatch(xb, yb, rows, rng)
    applyGrads(grads, adam, t, lr)
  }

  /** Adam state tensors in canonical order (per layer: w, b, then
    * gamma, beta when batch-normed) — the same order
    * [[backwardBatch]] emits gradients in.
    */
  private[graft] def newAdamStates(): Array[AdamState] = layers.flatMap { l =>
    Seq(new AdamState(l.w.length), new AdamState(l.b.length)) ++
      l.bn.toSeq.flatMap(bn => Seq(new AdamState(bn.gamma.length), new AdamState(bn.beta.length)))
  }

  /** Gradients of the batch-mean MSE w.r.t. every parameter tensor, in
    * canonical tensor order. Pure w.r.t. parameters (does NOT update
    * them); BatchNorm running statistics are updated as a forward-pass
    * side effect, as in eager training.
    */
  private[graft] def backwardBatch(
      xb: Array[Float],
      yb: Array[Float],
      rows: Int,
      rng: Random,
  ): Array[Array[Float]] = {
    val inW = inputDim
    val x = Array.tabulate(inW) { i =>
      val c = new Array[Float](rows)
      var r = 0
      while (r < rows) { c(r) = xb(r * inW + i); r += 1 }
      c
    }
    val tapes = forwardTrain(x, rows, rng)
    val outW = outputDim
    // dL/dYhat for MSE with mean reduction over all elements
    val scale = 2.0f / (rows * outW)
    var dY = Array.tabulate(outW) { o =>
      val yo = tapes.last.y(o)
      val d = new Array[Float](rows)
      var r = 0
      while (r < rows) { d(r) = scale * (yo(r) - yb(r * outW + o)); r += 1 }
      d
    }

    val perLayer = new Array[Array[Array[Float]]](layers.length)
    var li = layers.length - 1
    while (li >= 0) {
      val l = layers(li)
      val tape = tapes(li)
      val in = l.in
      val out = l.out
      // activation backward (gate on activation INPUT = postDrop)
      val dPost = l.activation match {
        case Activation.Identity => dY
        case Activation.Relu =>
          Array.tabulate(out) { o =>
            val g = dY(o); val p = tape.postDrop(o)
            val d = new Array[Float](rows)
            var r = 0
            while (r < rows) { d(r) = Mlp.reluGate(p(r), g(r)); r += 1 }
            d
          }
        case Activation.Tanh =>
          Array.tabulate(out) { o =>
            val g = dY(o); val y = tape.y(o)
            val d = new Array[Float](rows)
            var r = 0
            while (r < rows) { val yv = y(r); d(r) = g(r) * (1f - yv * yv); r += 1 }
            d
          }
      }
      // dropout backward
      val dBn =
        if (tape.dropMask == null) dPost
        else Array.tabulate(out) { o =>
          val g = dPost(o); val m = tape.dropMask(o)
          val d = new Array[Float](rows)
          var r = 0
          while (r < rows) { d(r) = g(r) * m(r); r += 1 }
          d
        }
      // batchnorm backward
      var dZ = dBn
      var dGamma: Array[Float] = null
      var dBeta: Array[Float] = null
      l.bn.foreach { bn =>
        dGamma = new Array[Float](out)
        dBeta = new Array[Float](out)
        dZ = new Array[Array[Float]](out)
        var o = 0
        while (o < out) {
          val g = dBn(o); val xh = tape.xhat(o); val gamma = bn.gamma(o)
          var sumDxhat = 0.0
          var sumDxhatXhat = 0.0
          var dg = 0f
          var db = 0f
          var r = 0
          while (r < rows) {
            val dxh = g(r) * gamma
            sumDxhat += dxh
            sumDxhatXhat += dxh * xh(r)
            dg += g(r) * xh(r)
            db += g(r)
            r += 1
          }
          dGamma(o) = dg
          dBeta(o) = db
          val inv = tape.invStd(o)
          val d = new Array[Float](rows)
          r = 0
          while (r < rows) {
            val dxh = g(r) * gamma
            d(r) = ((rows * dxh - sumDxhat - xh(r) * sumDxhatXhat) * inv / rows).toFloat
            r += 1
          }
          dZ(o) = d
          o += 1
        }
      }
      // linear backward: dB and dW sum rows in ascending order
      val dB = new Array[Float](out)
      var o = 0
      while (o < out) {
        val g = dZ(o)
        var acc = 0f
        var r = 0
        while (r < rows) { acc += g(r); r += 1 }
        dB(o) = acc
        o += 1
      }
      val dW = new Array[Float](in * out)
      var i = 0
      while (i < in) {
        weightGrads(dW, i * out, tape.x(i), dZ, rows)
        i += 1
      }
      // dX(i)(r) = Σ_o dZ(o)(r)·w(i·out+o), o ascending
      val dX =
        if (li > 0) Array.tabulate(in) { i =>
          val d = new Array[Float](rows)
          accumulateRows(d, dZ, l.w, i * out, 1, rows)
          d
        }
        else null

      perLayer(li) =
        if (l.bn.isDefined) Array(dW, dB, dGamma, dBeta)
        else Array(dW, dB)

      dY = dX
      li -= 1
    }
    perLayer.flatten
  }

  /** `dW(off + o) = Σ_r x(r)·dZ(o)(r)` for every unit `o`, rows
    * ascending from `0f`: four units per pass over the rows, each on its
    * own accumulator, then one pass per left-over unit. Every weight
    * rounds exactly as under one `+=` chain of its own, while the four
    * independent chains overlap instead of waiting on one another.
    */
  private def weightGrads(dW: Array[Float], off: Int, x: Array[Float], dZ: Array[Array[Float]], rows: Int): Unit = {
    val out = dZ.length
    var o = 0
    while (o + 4 <= out) {
      val g0 = dZ(o); val g1 = dZ(o + 1); val g2 = dZ(o + 2); val g3 = dZ(o + 3)
      var a0 = 0f; var a1 = 0f; var a2 = 0f; var a3 = 0f
      var r = 0
      while (r < rows) {
        val xr = x(r)
        a0 += xr * g0(r); a1 += xr * g1(r); a2 += xr * g2(r); a3 += xr * g3(r)
        r += 1
      }
      dW(off + o) = a0; dW(off + o + 1) = a1; dW(off + o + 2) = a2; dW(off + o + 3) = a3
      o += 4
    }
    while (o < out) {
      val g = dZ(o)
      var acc = 0f
      var r = 0
      while (r < rows) { acc += x(r) * g(r); r += 1 }
      dW(off + o) = acc
      o += 1
    }
  }

  /** Apply one Adam step from gradients in canonical tensor order. */
  private[graft] def applyGrads(
      grads: Array[Array[Float]],
      adam: Array[AdamState],
      t: Int,
      lr: Float,
  ): Unit = {
    require(grads.length == adam.length, s"${grads.length} grad tensors vs ${adam.length} states")
    var gi = 0
    layers.foreach { l =>
      adamUpdate(l.w, grads(gi), adam(gi), lr, t); gi += 1
      adamUpdate(l.b, grads(gi), adam(gi), lr, t); gi += 1
      l.bn.foreach { bn =>
        adamUpdate(bn.gamma, grads(gi), adam(gi), lr, t); gi += 1
        adamUpdate(bn.beta, grads(gi), adam(gi), lr, t); gi += 1
      }
    }
  }

  private def adamUpdate(
      p: Array[Float],
      g: Array[Float],
      s: AdamState,
      lr: Float,
      t: Int,
  ): Unit = {
    val b1 = 0.9f
    val b2 = 0.999f
    val eps = 1e-8f
    val c1 = (1.0 - math.pow(b1, t)).toFloat
    val c2 = (1.0 - math.pow(b2, t)).toFloat
    var i = 0
    while (i < p.length) {
      s.m(i) = b1 * s.m(i) + (1 - b1) * g(i)
      s.v(i) = b2 * s.v(i) + (1 - b2) * g(i) * g(i)
      val mh = s.m(i) / c1
      val vh = s.v(i) / c2
      p(i) -= lr * mh / (math.sqrt(vh).toFloat + eps)
      i += 1
    }
  }
}

object Mlp {

  /** Rows per [[Mlp.predictColumns]] call, in `fit`'s per-epoch MSE
    * and in the SQL batch scorer: the widest layer's activations for
    * one chunk stay cache-resident. 2048 rows (the reference's DuckDB
    * chunk) scored within noise of 512.
    */
  val EvalChunk = 512

  /** Relu backward, `if (p > 0f) g else 0f`, without a branch (the
    * branch mispredicts on about half of the rows). With `b` the raw bits
    * of `p` minus one, the mask is all ones exactly when `b` lies in
    * `[0, 0x7f7fffff]`, i.e. `p` is a positive subnormal, normal or +Inf;
    * for ±0, every negative and every NaN it is zero. The result has the
    * branch's bits for every `p`: `g`'s own bits, or +0.
    */
  private def reluGate(p: Float, g: Float): Float = {
    val b = java.lang.Float.floatToRawIntBits(p) - 1
    val mask = ((b - 0x7f800000) >> 31) & ~(b >> 31)
    java.lang.Float.intBitsToFloat(java.lang.Float.floatToRawIntBits(g) & mask)
  }

  /** Whether a -0 sits in `l`'s bias or BatchNorm beta. */
  private def holdsNegativeZero(l: DenseLayer): Boolean = {
    def negZero(a: Array[Float]) = a.exists(v => java.lang.Float.floatToRawIntBits(v) == 0x80000000)
    negZero(l.b) || l.bn.exists(bn => negZero(bn.beta))
  }

  /** Feature-major copy of row-major rows: one array per column. */
  private def featureMajor(rows: Array[Array[Float]], width: Int): Array[Array[Float]] =
    Array.tabulate(width) { c =>
      val col = new Array[Float](rows.length)
      var r = 0
      while (r < rows.length) { col(r) = rows(r)(c); r += 1 }
      col
    }

  /** Build an untrained model from a spec JSON, Xavier-uniform init,
    * deterministic under `seed` (reference builds via Model::from_spec,
    * src/nn/model.rs:60-107, with Burn's default initializer).
    */
  def fromSpec(name: String, specJson: String, seed: Long = 42L): Mlp = {
    val spec = NetworkSpec.parse(specJson)
    val rng = new Random(seed ^ name.hashCode.toLong)
    val layers = spec.layers.map { ls =>
      val limit = math.sqrt(6.0 / (ls.in + ls.out)).toFloat
      val w = Array.fill(ls.in * ls.out)((rng.nextFloat() * 2 - 1) * limit)
      val b = new Array[Float](ls.out)
      val bn = if (ls.batchNorm) Some(new BatchNormParams(ls.out)) else None
      new DenseLayer(ls.in, ls.out, w, b, ls.activationKind, bn, ls.dropout)
    }.toArray
    new Mlp(name, specJson, spec, layers)
  }
}
