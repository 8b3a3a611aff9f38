package graft

import graft.ml._

class MlpSpec extends SparkTestBase {

  private val spec5_16_1 =
    """{"layers":[{"in":5,"out":16,"activation":"relu"},{"in":16,"out":1}]}"""

  test("spec parse: basic shape, defaults") {
    val s = NetworkSpec.parse(spec5_16_1)
    assert(s.layers.length == 2)
    assert(s.inputDim == 5 && s.outputDim == 1)
    assert(s.layers.head.activationKind == Activation.Relu)
    assert(!s.layers.head.batchNorm && s.layers.head.dropout == 0.0f)
  }

  test("spec parse: unknown activation silently ignored (reference src/nn/model.rs:127-133)") {
    val s = NetworkSpec.parse(
      """{"layers":[{"in":2,"out":2,"activation":"gelu"}]}""",
    )
    assert(s.layers.head.activationKind == Activation.Identity)
  }

  test("spec parse: rejects missing layers / bad fields") {
    assertThrows[IllegalArgumentException](NetworkSpec.parse("""{"nope":1}"""))
    assertThrows[IllegalArgumentException](NetworkSpec.parse("""{"layers":[]}"""))
    assertThrows[IllegalArgumentException](NetworkSpec.parse("""{"layers":[{"in":2}]}"""))
    assertThrows[IllegalArgumentException](NetworkSpec.parse("not json"))
  }

  test("train config: reference defaults (src/nn/train.rs:20-30) and overrides") {
    val d = TrainConfig.parse("")
    assert(d == TrainConfig(10, 64, 42L, 0.01f))
    val c = TrainConfig.parse("""{"epochs":100,"learning_rate":3e-4,"batch_size":32,"seed":7}""")
    assert(c.epochs == 100 && c.batchSize == 32 && c.seed == 7L)
    assert(math.abs(c.learningRate - 3e-4f) < 1e-9)
  }

  test("forward: output shape and width validation") {
    val m = Mlp.fromSpec("shape", spec5_16_1)
    val y = m.predict(Array(1f, 2f, 3f, 4f, 5f))
    assert(y.length == 1)
    assertThrows[IllegalArgumentException](m.predict(Array(1f, 2f)))
  }

  test("training reduces loss on a learnable function (whole-input split)") {
    val rng = new scala.util.Random(0)
    val n = 256
    val feats = Array.fill(n)(Array.fill(3)(rng.nextFloat() * 2 - 1))
    val tgts = feats.map(f => Array(0.5f * f(0) - 0.3f * f(1) + 0.2f * f(2) + 0.1f))
    val spec = """{"layers":[{"in":3,"out":16,"activation":"relu"},{"in":16,"out":1}]}"""
    val m = Mlp.fromSpec("learn", spec)
    val stats = m.fit(
      feats,
      tgts,
      TrainConfig(epochs = 50, batchSize = 32, seed = 42L, learningRate = 0.01f),
      trainFraction = 1.0,
    )
    assert(stats.epochTrainMse.last < stats.epochTrainMse.head / 5,
      s"loss did not decrease: ${stats.epochTrainMse.head} -> ${stats.epochTrainMse.last}")
    assert(stats.epochTrainMse.last < 0.01)
  }

  test("determinism: same seed + order → identical weights and predictions") {
    def trained(): Mlp = {
      val rng = new scala.util.Random(1)
      val feats = Array.fill(100)(Array.fill(4)(rng.nextFloat()))
      val tgts = feats.map(f => Array(f.sum))
      val m = Mlp.fromSpec(
        "det",
        """{"layers":[{"in":4,"out":8,"activation":"tanh"},{"in":8,"out":1}]}""",
      )
      m.fit(feats, tgts, TrainConfig(epochs = 5), trainFraction = 1.0)
      m
    }
    val a = trained()
    val b = trained()
    val x = Array(0.1f, 0.2f, 0.3f, 0.4f)
    assert(a.predict(x).sameElements(b.predict(x)))
    assert(a.layers.head.w.sameElements(b.layers.head.w))
  }

  test("observed split quirk: first 30% trains (reference src/nn/mod.rs:104-109)") {
    val feats = Array.fill(10)(Array(1f))
    val tgts = Array.fill(10)(Array(1f))
    val m = Mlp.fromSpec("split", """{"layers":[{"in":1,"out":1}]}""")
    val stats = m.fit(feats, tgts, TrainConfig(epochs = 1))
    assert(stats.trainRows == 3 && stats.testRows == 7)
  }

  test("1-sample input: empty train split does not crash (reference functions.test:10)") {
    val m = Mlp.fromSpec("one", """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}""")
    val stats = m.fit(Array(Array(0f, 0f)), Array(Array(0f)), TrainConfig(epochs = 2))
    assert(stats.trainRows == 0 && stats.testRows == 1)
    assert(m.predict(Array(0f, 0f)).length == 1)
  }

  test("batchnorm + dropout: trains, eval mode deterministic") {
    val rng = new scala.util.Random(3)
    val feats = Array.fill(200)(Array.fill(4)(rng.nextFloat() * 4 - 2))
    val tgts = feats.map(f => Array(f(0) * f(0) + f(1)))
    val spec =
      """{"layers":[
        |{"in":4,"out":32,"activation":"relu","batch_norm":true,"dropout":0.1},
        |{"in":32,"out":1}]}""".stripMargin
    val m = Mlp.fromSpec("bn", spec)
    val stats = m.fit(
      feats, tgts,
      TrainConfig(epochs = 30, batchSize = 32, learningRate = 0.005f),
      trainFraction = 1.0)
    assert(stats.epochTrainMse.last < stats.epochTrainMse.head,
      s"bn net did not learn: ${stats.epochTrainMse.toSeq}")
    val x = Array(0.5f, -0.5f, 1f, 0f)
    assert(m.predict(x).sameElements(m.predict(x)), "eval-mode predict must be deterministic")
  }

  test("save/load roundtrip preserves predictions (JSON weights)") {
    val m = Mlp.fromSpec("rt", spec5_16_1)
    val rng = new scala.util.Random(5)
    val feats = Array.fill(50)(Array.fill(5)(rng.nextFloat()))
    val tgts = feats.map(f => Array(f.sum / 5))
    m.fit(feats, tgts, TrainConfig(epochs = 3), trainFraction = 1.0)
    val json = ModelRegistry.toJson(m)
    val m2 = ModelRegistry.fromJson(json)
    val x = Array(0.1f, 0.9f, 0.3f, 0.7f, 0.5f)
    assert(m.predict(x).sameElements(m2.predict(x)))
  }

  test("registry: clone-out get, put-replace, sorted list") {
    ModelRegistry.clear()
    ModelRegistry.put(Mlp.fromSpec("b_model", spec5_16_1))
    ModelRegistry.put(Mlp.fromSpec("a_model", spec5_16_1))
    val got = ModelRegistry.get("a_model").get
    got.layers.head.w(0) = 999f // mutating the clone must not affect the registry
    assert(ModelRegistry.get("a_model").get.layers.head.w(0) != 999f)
    assert(ModelRegistry.list().map(_._1) == Seq("a_model", "b_model"))
    ModelRegistry.clear()
  }

  test("weights save to models/<name>/<ts>/ and loadLatest restores (path contract src/nn/mod.rs:112-117)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-models").toString
    val m = Mlp.fromSpec("saveme", spec5_16_1)
    val dir = ModelRegistry.saveWeights(m, tmp)
    assert(dir.toString.matches(s".*saveme.\\d{8}_\\d{6}$$"), dir.toString)
    assert(java.nio.file.Files.exists(dir.resolve("config.json")))
    val loaded = ModelRegistry.loadLatest("saveme", tmp).get
    val x = Array(1f, 2f, 3f, 4f, 5f)
    assert(loaded.predict(x).sameElements(m.predict(x)))
  }

  // ------------------------------------------------------------ golden bits

  /** FNV-1a-style digest over the raw bits of every trained parameter
    * (w, b, and per BatchNorm layer gamma, beta, running mean/var) and
    * every per-epoch train/test MSE. Any change in arithmetic order,
    * fused multiply-add, or dropout draw order changes it.
    */
  private def trainingDigest(m: Mlp, s: TrainStats): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h = (h ^ v) * 0x100000001b3L; h ^= h >>> 29 }
    def floats(a: Array[Float]): Unit = a.foreach(f => mix(java.lang.Float.floatToRawIntBits(f).toLong))
    m.layers.foreach { l =>
      floats(l.w); floats(l.b)
      l.bn.foreach { bn => floats(bn.gamma); floats(bn.beta); floats(bn.runningMean); floats(bn.runningVar) }
    }
    (s.epochTrainMse ++ s.epochTestMse).foreach(d => mix(java.lang.Double.doubleToRawLongBits(d)))
    mix(s.trainRows.toLong); mix(s.testRows.toLong)
    h
  }

  private def goldenRun(
      spec: String,
      rows: Int,
      inDim: Int,
      outDim: Int,
      cfg: TrainConfig,
      trainFraction: Double,
      dataSeed: Int = 11,
  ): Long = {
    val rng = new scala.util.Random(dataSeed)
    // every 7th feature is an exact zero: the kernels' zero-input paths
    val feats = Array.tabulate(rows, inDim)((r, i) =>
      if ((r * inDim + i) % 7 == 3) 0f else rng.nextFloat() * 2 - 1)
    val tgts = feats.map(f => Array.tabulate(outDim)(o => f.sum * (o + 1) * 0.3f + rng.nextFloat() * 0.1f))
    val m = Mlp.fromSpec("golden", spec, seed = 42L)
    val stats = m.fit(feats, tgts, cfg, trainFraction)
    trainingDigest(m, stats)
  }

  private val benchSpec =
    """{"layers":[{"in":5,"out":64,"activation":"relu"},""" +
      """{"in":64,"out":32,"activation":"relu"},{"in":32,"out":1}]}"""
  private val bnDropTanhSpec =
    """{"layers":[
      |{"in":4,"out":16,"activation":"tanh","batch_norm":true,"dropout":0.1},
      |{"in":16,"out":8,"activation":"tanh","batch_norm":true,"dropout":0.1},
      |{"in":8,"out":2}]}""".stripMargin
  private val bnReluSpec =
    """{"layers":[{"in":3,"out":6,"activation":"relu","batch_norm":true},{"in":6,"out":1}]}"""

  /** Constants computed on the row-major kernels that predate the
    * feature-major rewrite: training must stay bit-identical.
    */
  private val golden: Seq[(String, () => Long, Long)] = Seq(
    ("bench net 5-64-32-1 relu, split 0.3, batch 64, seed 42",
      () => goldenRun(benchSpec, 1200, 5, 1, TrainConfig(3, 64, 42L, 0.01f), 0.3), 0x96cb1e78bbc38315L),
    ("bench net 5-64-32-1 relu, split 0.3, batch 64, seed 7",
      () => goldenRun(benchSpec, 1200, 5, 1, TrainConfig(3, 64, 7L, 0.01f), 0.3), 0x8cc12f84b955f4d4L),
    ("tanh + batch_norm + dropout 0.1, 2 outputs, seed 42",
      () => goldenRun(bnDropTanhSpec, 400, 4, 2, TrainConfig(4, 32, 42L, 0.005f), 0.5), 0x18efc164154f2c78L),
    ("tanh + batch_norm + dropout 0.1, 2 outputs, seed 9",
      () => goldenRun(bnDropTanhSpec, 400, 4, 2, TrainConfig(4, 32, 9L, 0.005f), 0.5), 0x5e7d3ba091a8ab92L),
    ("single identity layer",
      () => goldenRun("""{"layers":[{"in":3,"out":1}]}""", 300, 3, 1, TrainConfig(5, 16, 42L, 0.01f), 0.3), 0xa79b2f8907f55a6cL),
    ("100 rows at batch 32: tail batches of 1 row (33 train rows) through batch_norm",
      () => goldenRun(bnReluSpec, 100, 3, 1, TrainConfig(3, 32, 42L, 0.01f), 0.33), 0x358b64dbf0c2cf2dL),
    ("trainFraction 1.0: empty test split",
      () => goldenRun(benchSpec, 200, 5, 1, TrainConfig(2, 64, 42L, 0.01f), 1.0), 0x1a582be6c551a3dcL),
    ("1-row input, trained (trainFraction 1.0) through batch_norm",
      () => goldenRun(bnReluSpec, 1, 3, 1, TrainConfig(3, 64, 42L, 0.01f), 1.0), 0x87d2841e01049c20L),
    ("1-row input, empty train split (trainFraction 0.3)",
      () => goldenRun(benchSpec, 1, 5, 1, TrainConfig(2, 64, 42L, 0.01f), 0.3), 0x0007501d613bad95L),
  )

  golden.foreach { case (label, run, expected) =>
    test(s"golden training bits: $label") {
      val got = run()
      assert(got == expected, f"digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
  }

  // ----------------------------------------------------- predict golden bits

  /** Digest of every [[Mlp.predict]] output over a fixed input grid:
    * 256 random rows, then each special value (zeros of both signs, a
    * negative, NaN, ±Inf, a huge and a tiny magnitude) at each input
    * position of a random row, then rows made of one special value.
    * Biases and BatchNorm parameters are moved off their 0/1 init so
    * the bias-first order and the eval-mode normalisation show in the
    * bits. Every output bit counts, a zero's sign included, except that
    * all NaNs count as one value: which NaN an operation on two NaNs
    * returns follows the operand order the JIT picks, which Java leaves
    * open.
    */
  private def predictDigest(spec: String, score: (Mlp, Seq[Array[Float]]) => Seq[Array[Float]]): Long = {
    val m = goldenModel(spec)
    digest(score(m, goldenGrid(m.inputDim)))
  }

  private def goldenModel(spec: String): Mlp = {
    val m = Mlp.fromSpec("golden_predict", spec, seed = 42L)
    val prng = new scala.util.Random(17)
    m.layers.foreach { l =>
      l.b.indices.foreach(o => l.b(o) = prng.nextFloat() * 0.4f - 0.2f)
      l.bn.foreach { bn =>
        bn.gamma.indices.foreach { o =>
          bn.gamma(o) = 0.5f + prng.nextFloat()
          bn.beta(o) = prng.nextFloat() * 0.4f - 0.2f
          bn.runningMean(o) = prng.nextFloat() - 0.5f
          bn.runningVar(o) = 0.2f + prng.nextFloat() * 2
        }
      }
    }
    m
  }

  private def goldenGrid(n: Int): Seq[Array[Float]] = {
    val rng = new scala.util.Random(23)
    def random(): Array[Float] = Array.fill(n)(rng.nextFloat() * 4 - 2)
    val specials = Seq(0f, -0f, -1.75f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, 3e30f, -2e-30f)
    Seq.fill(256)(random()) ++
      (for (s <- specials; i <- 0 until n) yield { val x = random(); x(i) = s; x }) ++
      specials.map(s => Array.fill(n)(s))
  }

  private def digest(outputs: Seq[Array[Float]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h = (h ^ v) * 0x100000001b3L; h ^= h >>> 29 }
    outputs.foreach(_.foreach(y => mix(bits(y).toLong)))
    h
  }

  /** An output's raw bits, every NaN as one value. */
  private def bits(y: Float): Int = if (y.isNaN) 0x7fc00000 else java.lang.Float.floatToRawIntBits(y)

  private def rowByRow(m: Mlp, rows: Seq[Array[Float]]): Seq[Array[Float]] = rows.map(m.predict)

  /** `rows` through [[Mlp.predictColumns]] in chunks of 100 over one set
    * of buffers: every grid crosses a chunk boundary and ends in a
    * shorter tail chunk, which scores over the previous chunk's leftovers.
    */
  private def batched(m: Mlp, rows: Seq[Array[Float]]): Seq[Array[Float]] = {
    val chunk = 100
    val x = Array.ofDim[Float](m.inputDim, chunk)
    val bufs = m.columnBuffers(chunk)
    rows.grouped(chunk).flatMap { part =>
      part.indices.foreach(r => part(r).indices.foreach(i => x(i)(r) = part(r)(i)))
      val y = m.predictColumns(x, part.length, bufs)
      part.indices.map(r => Array.tabulate(m.outputDim)(o => y(o)(r)))
    }.toSeq
  }

  /** `rows` scored by SQL `ml_pred` (one call per model in one SELECT)
    * over a one-file Parquet table that holds the grid back to back
    * until it fills two 4096-row batches and a tail, so the columnar
    * scorer reads every row through a batch, at several batch offsets.
    * Every copy of the grid must score the same bits; returns each
    * model's outputs for the first copy.
    */
  private def viaParquet(models: Seq[Mlp], rows: Seq[Array[Float]]): Seq[Seq[Array[Float]]] = {
    import spark.implicits._
    MlFunctions.registerAll(spark)
    models.foreach(ModelRegistry.put)
    val copies = 2 * 4096 / rows.length + 2
    val dir = java.nio.file.Files.createTempDirectory("mlp-golden").resolve("t").toString
    (0 until copies * rows.length).map(k => (k.toLong, rows(k % rows.length))).toDF("id", "f")
      .coalesce(1).write.parquet(dir)
    val calls = models.map(m => s"ml_pred('${m.name}', f)").mkString(", ")
    spark.read.parquet(dir).createOrReplaceTempView("golden_pq")
    val scored = spark.sql(s"SELECT id, $calls FROM golden_pq")
    assert(scoresColumnar(scored), scored.queryExecution.executedPlan.toString)
    val out = scored.collect().sortBy(_.getLong(0)).map(r =>
      models.indices.map(j => r.getSeq[Float](j + 1).toArray))
    assert(out.length == copies * rows.length)
    out.grouped(rows.length).zipWithIndex.foreach { case (copy, c) =>
      copy.indices.foreach(k => models.indices.foreach { j =>
        assert(copy(k)(j).map(bits).toSeq == out(k)(j).map(bits).toSeq, s"copy $c row $k model ${models(j).name}")
      })
    }
    models.indices.map(j => out.take(rows.length).map(_(j)).toSeq)
  }

  /** Constants computed on the output-major `predict` (one scalar chain
    * per output unit) that predates the input-major pass. Input widths
    * 1, 3, 5, 6 and 7 leave 1, 3, 1, 2 and 3 inputs after the passes
    * of four.
    */
  private val goldenPredict: Seq[(String, String, Long)] = Seq(
    ("bench net 5-64-32-1 relu", benchSpec, 0x16882d204eecc203L),
    ("in 3, 2 outputs, relu",
      """{"layers":[{"in":3,"out":8,"activation":"relu"},{"in":8,"out":2}]}""", 0x63a1b2aa0180a549L),
    ("in 7, then in 6, tanh",
      """{"layers":[{"in":7,"out":6,"activation":"tanh"},{"in":6,"out":1}]}""", 0xd02bc1608cfe905fL),
    ("1-wide input",
      """{"layers":[{"in":1,"out":4,"activation":"relu"},{"in":4,"out":1}]}""", 0x516e5c92e17e2edfL),
    ("tanh + batch_norm + dropout 0.1 (eval mode), 2 outputs", bnDropTanhSpec, 0x3bbab586181c4566L),
    ("single identity layer", """{"layers":[{"in":3,"out":1}]}""", 0xc5a9af2df527fdadL),
  )

  goldenPredict.foreach { case (label, spec, expected) =>
    test(s"golden predict bits: $label") {
      val got = predictDigest(spec, rowByRow)
      assert(got == expected, f"digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
    test(s"golden predict bits through predictColumns, chunks of 100: $label") {
      val got = predictDigest(spec, batched)
      assert(got == expected, f"digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
    test(s"golden predict bits through SQL ml_pred over Parquet batches: $label") {
      val got = predictDigest(spec, (m, rows) => viaParquet(Seq(m), rows).head)
      assert(got == expected, f"digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
  }

  test("golden predict bits through SQL ml_pred over Parquet batches: two models in one SELECT") {
    val pair = goldenPredict.filter(g => Mlp.fromSpec("w", g._2).inputDim == 3)
    assert(pair.length == 2)
    // the init seed mixes in the name, so each model is renamed after it is built
    val models = pair.zipWithIndex.map { case ((_, spec, _), j) =>
      val m = goldenModel(spec)
      new Mlp(s"golden_pair_$j", m.specJson, m.spec, m.layers)
    }
    viaParquet(models, goldenGrid(3)).zip(pair).foreach { case (out, (label, _, expected)) =>
      val got = digest(out)
      assert(got == expected, f"$label: digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
  }

  test("golden predict bits through SQL ml_pred over off-heap Parquet batches") {
    val key = "spark.sql.columnVector.offheap.enabled"
    spark.conf.set(key, "true")
    try {
      val (label, spec, expected) = goldenPredict.head
      val got = predictDigest(spec, (m, rows) => viaParquet(Seq(m), rows).head)
      assert(got == expected, f"$label: digest 0x$got%016xL != pinned 0x$expected%016xL")
      val scan = spark.table("golden_pq").queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.vectorTypes
      }
      assert(scan.flatten.exists(_.forall(_.endsWith("OffHeapColumnVector"))), scan)
    } finally spark.conf.unset(key)
  }

  test("predictColumns keeps predict's zero signs when every bias and beta is -0") {
    // a 1-wide input of ±0 makes every linear term a signed zero; with
    // positive weights an input of -0 stays -0 through each -0 bias, so a
    // hidden relu that maps -0 to +0 flips the output's sign
    val m = Mlp.fromSpec("neg_zero",
      """{"layers":[{"in":1,"out":4,"activation":"relu"},""" +
        """{"in":4,"out":3,"activation":"relu","batch_norm":true},{"in":3,"out":2,"activation":"relu"}]}""")
    m.layers.foreach { l =>
      l.w.indices.foreach(k => l.w(k) = math.abs(l.w(k)))
      java.util.Arrays.fill(l.b, -0f)
      l.bn.foreach(bn => java.util.Arrays.fill(bn.beta, -0f))
    }
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(40)(Array(0f)) ++ Seq.fill(40)(Array(-0f)) ++ Seq.fill(40)(Array(rng.nextFloat() * 2 - 1))
    def rowBits(y: Array[Float]) = y.toSeq.map(bits)
    val want = rowByRow(m, rows).map(rowBits)
    assert(want.flatten.contains(0x80000000), "the grid must produce a -0 output")
    batched(m, rows).map(rowBits).zip(want).zipWithIndex.foreach { case ((got, exp), r) =>
      assert(got == exp, s"row $r (input ${rows(r).head}): predictColumns $got vs predict $exp")
    }
    viaParquet(Seq(m), rows).head.map(rowBits).zip(want).zipWithIndex.foreach { case ((got, exp), r) =>
      assert(got == exp, s"row $r (input ${rows(r).head}): SQL ml_pred over Parquet $got vs predict $exp")
    }
  }

  test("fit's per-epoch train MSE has the bits of an MSE over predict") {
    Seq(benchSpec, bnDropTanhSpec, bnReluSpec).foreach { spec =>
      val m = Mlp.fromSpec("mse_pin", spec, seed = 42L)
      val rng = new scala.util.Random(31)
      // more rows than one evaluation chunk; every 7th feature is zero
      val feats = Array.tabulate(1100, m.inputDim)((r, i) =>
        if ((r * m.inputDim + i) % 7 == 3) 0f else rng.nextFloat() * 2 - 1)
      val tgts = feats.map(f => Array.tabulate(m.outputDim)(o => f.sum * (o + 1) * 0.3f))
      def predictMse(): Double = {
        var sum = 0.0
        feats.indices.foreach { r =>
          val p = m.predict(feats(r))
          p.indices.foreach { o => val d = p(o) - tgts(r)(o); sum += d * d }
        }
        sum / (feats.length.toLong * m.outputDim)
      }
      // fit logs once per epoch, after that epoch's MSEs
      val viaPredict = scala.collection.mutable.ArrayBuffer.empty[Double]
      val stats = m.fit(feats, tgts, TrainConfig(3, 64, 42L, 0.01f), trainFraction = 1.0,
        log = _ => viaPredict += predictMse())
      assert(stats.epochTrainMse.length == 3 && viaPredict.length == 3)
      stats.epochTrainMse.zip(viaPredict).zipWithIndex.foreach { case ((fitMse, loopMse), e) =>
        assert(java.lang.Double.doubleToRawLongBits(fitMse) == java.lang.Double.doubleToRawLongBits(loopMse),
          s"$spec epoch ${e + 1}: fit $fitMse vs predict loop $loopMse")
      }
    }
  }

  // ---------------------------------------------------- gradient golden bits

  /** `rows` row-major input and target rows. Row `r < specials.length`
    * is `(specials(r), -1, -1, …)`; the rest are uniform in [-1, 1), every
    * 7th feature an exact zero.
    */
  private def gradBatch(
      m: Mlp,
      rows: Int,
      seed: Int,
      specials: Seq[Float] = Nil,
  ): (Array[Float], Array[Float], Int) = {
    val rng = new scala.util.Random(seed)
    val xb = Array.tabulate(rows * m.inputDim) { k =>
      val (r, i) = (k / m.inputDim, k % m.inputDim)
      if (r < specials.length) { if (i == 0) specials(r) else -1f }
      else if (k % 7 == 3) 0f
      else rng.nextFloat() * 2 - 1
    }
    val yb = Array.fill(rows * m.outputDim)(rng.nextFloat() * 2 - 1)
    (xb, yb, rows)
  }

  /** Digest of every gradient tensor [[Mlp.backwardBatch]] returns over a
    * sequence of batches, and of the BatchNorm running statistics each
    * batch updates. Biases and BatchNorm affine parameters are moved off
    * their init first, so the relu gate and the normalisation vary by
    * unit. All NaNs count as one value, as in the predict digests.
    */
  private def gradientDigest(
      spec: String,
      batches: Mlp => Seq[(Array[Float], Array[Float], Int)],
      prepare: Mlp => Unit = _ => (),
  ): Long = {
    val m = Mlp.fromSpec("golden_grad", spec, seed = 42L)
    val prng = new scala.util.Random(19)
    m.layers.foreach { l =>
      l.b.indices.foreach(o => l.b(o) = prng.nextFloat() * 0.4f - 0.2f)
      l.bn.foreach { bn =>
        bn.gamma.indices.foreach { o =>
          bn.gamma(o) = 0.5f + prng.nextFloat()
          bn.beta(o) = prng.nextFloat() * 0.4f - 0.2f
        }
      }
    }
    prepare(m)
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h = (h ^ v) * 0x100000001b3L; h ^= h >>> 29 }
    def floats(a: Array[Float]): Unit =
      a.foreach(f => mix(if (f.isNaN) 0x7fc00000L else java.lang.Float.floatToRawIntBits(f).toLong))
    val dropRng = new scala.util.Random(3)
    batches(m).foreach { case (xb, yb, rows) =>
      m.backwardBatch(xb, yb, rows, dropRng).foreach(floats)
      m.layers.foreach(_.bn.foreach { bn => floats(bn.runningMean); floats(bn.runningVar) })
    }
    h
  }

  /** 3 → 6 → 3 → 1 relu: output widths 6, 3 and 1 leave 2, 3 and 1 units
    * after the passes of four.
    */
  private val reluWidthsSpec =
    """{"layers":[{"in":3,"out":6,"activation":"relu"},""" +
      """{"in":6,"out":3,"activation":"relu"},{"in":3,"out":1}]}"""

  /** First-layer unit 0 gets weights (1, 0, 0) and bias -0, so on a row
    * `(s, -1, -1)` its pre-activation is exactly `s`: `-0 + s`, then two
    * `-1 · 0 = -0` terms, which keep a -0 and change nothing else.
    */
  private def passFirstInput(m: Mlp): Unit = {
    val l = m.layers.head
    l.w(0) = 1f; l.w(l.out) = 0f; l.w(2 * l.out) = 0f
    l.b(0) = -0f
  }

  private val finiteSpecials = Seq(0f, -0f, 1e-40f, -1e-40f, java.lang.Float.MIN_VALUE, -java.lang.Float.MIN_VALUE)
  private val nonFiniteSpecials = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, 0f, -0f)

  /** Constants computed on the backward kernels that predate the
    * four-unit `dW` pass and the branch-free relu gate: one `+=` chain
    * per weight and `if (p > 0f) g else 0f`.
    */
  private val goldenGradients: Seq[(String, () => Long, Long)] = Seq(
    ("bench net 5-64-32-1 relu, batches of 64 and 1",
      () => gradientDigest(benchSpec, m => Seq(gradBatch(m, 64, 1), gradBatch(m, 1, 2))), 0x0fc864989dbbe739L),
    ("tanh + batch_norm + dropout 0.1, 2 outputs, batches of 64 and 1",
      () => gradientDigest(bnDropTanhSpec, m => Seq(gradBatch(m, 64, 3), gradBatch(m, 1, 4))), 0x59527164d003e578L),
    ("relu widths 6, 3, 1: pre-activations ±0 and ± subnormals, batch of 64",
      () => gradientDigest(reluWidthsSpec, m => Seq(gradBatch(m, 64, 5, finiteSpecials)), passFirstInput), 0x0d04e6c8a5afd530L),
    ("relu widths 6, 3, 1: a pre-activation of ±0 or a subnormal, batches of 1",
      () => gradientDigest(reluWidthsSpec,
        m => finiteSpecials.zipWithIndex.map { case (s, k) => gradBatch(m, 1, 6 + k, Seq(s)) }, passFirstInput), 0xee1b404cecfb8d42L),
    ("relu widths 6, 3, 1: pre-activations NaN and ±Inf, batch of 64",
      () => gradientDigest(reluWidthsSpec, m => Seq(gradBatch(m, 64, 7, nonFiniteSpecials)), passFirstInput), 0x779db1c68c498f4dL),
    ("relu widths 6, 3, 1: a pre-activation of NaN or ±Inf, batches of 1",
      () => gradientDigest(reluWidthsSpec,
        m => nonFiniteSpecials.zipWithIndex.map { case (s, k) => gradBatch(m, 1, 20 + k, Seq(s)) }, passFirstInput), 0x332ee1fe54337c0bL),
  )

  goldenGradients.foreach { case (label, run, expected) =>
    test(s"golden gradient bits: $label") {
      val got = run()
      assert(got == expected, f"digest 0x$got%016xL != pinned 0x$expected%016xL")
    }
  }

  // ------------------------------------------------------ gradient check

  /** Batch-mean MSE of a train-mode forward (batch-statistic BatchNorm,
    * no dropout) in double precision, over parameters given in the
    * canonical tensor order of [[Mlp.backwardBatch]].
    */
  private def lossInDouble(
      m: Mlp,
      params: Array[Array[Double]],
      x: Array[Array[Double]],
      y: Array[Array[Double]],
  ): Double = {
    var cur = x
    var pi = 0
    m.layers.foreach { l =>
      val w = params(pi); val b = params(pi + 1); pi += 2
      val rows = cur.length
      var z = Array.tabulate(rows, l.out) { (r, o) =>
        var acc = b(o)
        var i = 0
        while (i < l.in) { acc += cur(r)(i) * w(i * l.out + o); i += 1 }
        acc
      }
      l.bn.foreach { bn =>
        val gamma = params(pi); val beta = params(pi + 1); pi += 2
        val mean = Array.tabulate(l.out)(o => z.map(_(o)).sum / rows)
        val variance = Array.tabulate(l.out)(o => z.map(zr => (zr(o) - mean(o)) * (zr(o) - mean(o))).sum / rows)
        z = z.map(zr => Array.tabulate(l.out)(o =>
          gamma(o) * (zr(o) - mean(o)) / math.sqrt(variance(o) + bn.eps) + beta(o)))
      }
      cur = z.map(_.map(v => l.activation match {
        case Activation.Relu => math.max(v, 0.0)
        case Activation.Tanh => math.tanh(v)
        case Activation.Identity => v
      }))
    }
    var sum = 0.0
    for (r <- cur.indices; o <- cur(r).indices) { val d = cur(r)(o) - y(r)(o); sum += d * d }
    sum / (cur.length * cur(0).length)
  }

  /** Tolerance of the check: |analytic - numeric| <= 1e-5 + 2e-3 * |numeric|.
    * The analytic side runs in f32, the central difference (step 1e-6)
    * in f64, so the bound covers f32 rounding of the backward pass only.
    */
  Seq("identity", "tanh", "relu").foreach { act =>
    Seq(false, true).foreach { bn =>
      test(s"backwardBatch matches a double-precision finite difference: $act, batch_norm=$bn") {
        val spec =
          s"""{"layers":[{"in":3,"out":5,"activation":"$act","batch_norm":$bn},""" +
            s"""{"in":5,"out":2,"activation":"$act","batch_norm":$bn}]}"""
        val m = Mlp.fromSpec(s"grad_$act", spec, seed = 5L)
        // move BatchNorm affine parameters off their 1/0 init so their
        // gradients are exercised away from the symmetric point
        val prng = new scala.util.Random(13)
        m.layers.foreach { l =>
          l.b.indices.foreach(o => l.b(o) = prng.nextFloat() * 0.2f - 0.1f)
          l.bn.foreach { p =>
            p.gamma.indices.foreach(o => p.gamma(o) = 0.5f + prng.nextFloat())
            p.beta.indices.foreach(o => p.beta(o) = prng.nextFloat() * 0.4f - 0.2f)
          }
        }
        val rows = 8
        val drng = new scala.util.Random(21)
        val xb = Array.fill(rows * 3)(drng.nextFloat() * 2 - 1)
        val yb = Array.fill(rows * 2)(drng.nextFloat() * 2 - 1)
        val grads = m.copyOf().backwardBatch(xb, yb, rows, new scala.util.Random(0))

        val params: Array[Array[Double]] = m.layers.flatMap { l =>
          Seq(l.w, l.b) ++ l.bn.toSeq.flatMap(p => Seq(p.gamma, p.beta))
        }.map(_.map(_.toDouble))
        assert(grads.length == params.length)
        val x = Array.tabulate(rows, 3)((r, i) => xb(r * 3 + i).toDouble)
        val y = Array.tabulate(rows, 2)((r, o) => yb(r * 2 + o).toDouble)
        val h = 1e-6
        for (ti <- params.indices; k <- params(ti).indices) {
          val p0 = params(ti)(k)
          params(ti)(k) = p0 + h
          val up = lossInDouble(m, params, x, y)
          params(ti)(k) = p0 - h
          val down = lossInDouble(m, params, x, y)
          params(ti)(k) = p0
          val numeric = (up - down) / (2 * h)
          val analytic = grads(ti)(k).toDouble
          assert(math.abs(analytic - numeric) <= 1e-5 + 2e-3 * math.abs(numeric),
            s"tensor $ti element $k: analytic $analytic vs numeric $numeric")
        }
      }
    }
  }
}
