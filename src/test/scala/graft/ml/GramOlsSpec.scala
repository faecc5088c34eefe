package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GramOls (the one-pass x10 ladder): prediction parity with spark.ml's
  * RFormula+LinearRegression path on full-rank designs, pinv behavior
  * on rank-deficient ones, and the one-scan-for-all-models contract. */
class GramOlsSpec extends SparkSpec {
  import spark.implicits._

  /** Same AR(1) lag-persistent fixture as MlModelsSpec. */
  private lazy val lagData = {
    val rnd = new scala.util.Random(7)
    val rows = for {
      st <- 0 until 20
      series = Iterator.iterate(0.5)(r =>
        math.min(0.98, math.max(0.02, 0.5 + 0.95 * (r - 0.5) + rnd.nextGaussian() * 0.03)))
        .take(201).toVector
      t <- 1 until 201
    } yield (s"s$st", s"d${st % 5}", (t % 24).toString, series(t), series(t - 1))
    rows.toDF("station", "district", "hour_str", "rate", "rate_lag1").cache()
  }
  private val cats = Set("district", "hour_str")

  test("gram fit predictions equal spark.ml's RFormula+LR fit (full-rank designs)") {
    for (f <- Seq("rate ~ district", "rate ~ district + hour_str + rate_lag1")) {
      val gram = GramOls.ladder(lagData, Seq(f), cats)(f)
      val ml = Models.olsFit(lagData, f)
      // same parameter count even though the dummy basis differs
      assert(gram.terms.length === Models.lrStage(ml).numFeatures, f)
      val maxDiff = ml.transform(lagData)
        .withColumn("p_gram", gram.column)
        .select(max(abs(col("p_gram") - col("prediction")))).as[Double].head()
      // both are exact least-squares solutions of the same full-rank
      // system; only conditioning-amplified float noise separates them
      assert(maxDiff < 1e-8, s"$f maxDiff=$maxDiff")
    }
  }

  test("rank-deficient design: pinv yields finite coefficients and the unique LS fitted values") {
    // rate_dup ≡ rate_lag1 duplicated — the design matrix loses a rank,
    // the x10-M2 situation (statsmodels pinv-solves it silently)
    val df = lagData.withColumn("rate_dup", col("rate_lag1"))
    val deficient = "rate ~ district + rate_lag1 + rate_dup"
    val reduced = "rate ~ district + rate_lag1"
    val ls = GramOls.ladder(df, Seq(deficient), cats)(deficient)
    assert(ls.terms.forall(t => java.lang.Double.isFinite(t.coef)))
    // fitted values are unique across every LS solution: compare with
    // the reduced full-rank model, whose column space is identical
    val lsRed = GramOls.ladder(df, Seq(reduced), cats)(reduced)
    val maxDiff = df.select(max(abs(ls.column - lsRed.column))).as[Double].head()
    // conditioning-amplified float noise only (the gram's combine order
    // varies with partitioning, so leave real headroom)
    assert(maxDiff < 1e-6, s"maxDiff=$maxDiff")
    // minimum-norm: the duplicated feature's weight splits evenly
    val w = ls.terms.collect {
      case LinearScore.Num(c, coef) if c == "rate_lag1" || c == "rate_dup" => coef
    }
    assert(w.length === 2 && math.abs(w(0) - w(1)) < 1e-6, w.toString)
  }

  test("randomized designs: gram fit ≡ spark.ml predictions over seeded random frames (property)") {
    val rnd = new scala.util.Random(17)
    val formulas = Seq(
      "y ~ x1", "y ~ cat1 + x1", "y ~ cat1 + cat2 + x2",
      "y ~ cat1 + cat2 + x1 + x2")
    for (trial <- 0 until 3) {
      val k1 = 3 + rnd.nextInt(3)
      val k2 = 2 + rnd.nextInt(4)
      val rows = Seq.fill(400) {
        val c1 = rnd.nextInt(k1); val c2 = rnd.nextInt(k2)
        val x1 = rnd.nextDouble() * 10 - 5; val x2 = rnd.nextGaussian() * 3
        val y = 0.7 * c1 - 0.4 * c2 + 0.9 * x1 - 1.3 * x2 + rnd.nextGaussian() * 0.5
        (s"a$c1", s"b$c2", x1, x2, y)
      }
      val df = rows.toDF("cat1", "cat2", "x1", "x2", "y")
      val formula = formulas(trial % formulas.length)
      val gram = GramOls.ladder(df, Seq(formula), Set("cat1", "cat2"))(formula)
      val ml = Models.olsFit(df, formula)
      val maxDiff = ml.transform(df)
        .withColumn("p", gram.column)
        .select(max(abs(col("p") - col("prediction")))).as[Double].head()
      assert(maxDiff < 1e-7, s"trial $trial formula '$formula' maxDiff=$maxDiff")
    }
  }

  test("coefficient inference matches an independent numpy fixture (se/t) and the closed-form t3 CDF (p)") {
    // fixture: numpy lstsq + analytic sigma2·inv(XᵀX) diagonals on this
    // exact 6-row frame (statsmodels' summary runs the same arithmetic);
    // p re-derived IN THIS TEST from the closed-form Student-t CDF at
    // df=3 — F(t) = 1/2 + (atan(x) + x/(1+x²))/π with x = t/√3 — so the
    // p chain is pinned against something other than our own regBeta
    val df = Seq(
      (1.0, 2.0, 1.2), (2.0, 1.0, 1.9), (3.0, 4.0, 3.2),
      (4.0, 3.0, 3.9), (5.0, 6.0, 5.3), (6.0, 5.0, 5.9))
      .toDF("x1", "x2", "y")
    val f = "y ~ x1 + x2"
    val fit = GramOls.ladderInfer(df, Seq(f), Set.empty)(f)
    assert(fit.rank === 3)
    assert(fit.n === 6.0)
    assert(math.abs(fit.sse - 0.004166666666666629) < 1e-12)
    val expected = Seq( // (coef, se, t) per numpy; row 0 = intercept
      (0.022916666666667473, 0.03598401780008766, 0.6368568066518587),
      (0.8395833333333337, 0.015911721163041043, 52.765085859063205),
      (0.17291666666666677, 0.015911721163041046, 10.867250933752471))
    val coefs = fit.score.intercept +: fit.score.terms.map(_.coef)
    expected.zipWithIndex.foreach { case ((b, se, t), j) =>
      assert(fit.wellDetermined(j), s"coef $j")
      assert(math.abs(coefs(j) - b) < 1e-9, s"coef $j")
      assert(math.abs(fit.stdErr(j) - se) < 1e-9, s"se $j")
      val tj = coefs(j) / fit.stdErr(j)
      assert(math.abs(tj - t) < 1e-6, s"t $j")
      val x = math.abs(tj) / math.sqrt(3.0)
      val pClosed = 2.0 * (1.0 - (0.5 + (math.atan(x) + x / (1 + x * x)) / math.Pi))
      val pEngine = graft.stats.Distributions.tTwoSidedP(tj, fit.dfResid)
      assert(math.abs(pEngine - pClosed) < 1e-12, s"p $j: $pEngine vs $pClosed")
    }
  }

  test("coefficient inference matches spark.ml's normal-solver summary (numeric design)") {
    // numeric-only formula: the dummy BASIS differs for categoricals
    // (documented), but on a pure-numeric design every per-coefficient
    // quantity is basis-free and must agree with spark.ml's
    // LinearRegressionTrainingSummary (which wraps the same WLS math
    // statsmodels runs)
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(300) {
      val x1 = rnd.nextDouble() * 4 - 2
      val x2 = rnd.nextGaussian()
      (x1, x2, 1.5 + 0.8 * x1 - 0.6 * x2 + rnd.nextGaussian() * 0.7)
    }
    val df = rows.toDF("x1", "x2", "y")
    val f = "y ~ x1 + x2"
    val fit = GramOls.ladderInfer(df, Seq(f), Set.empty)(f)
    val summary = Models.lrStage(Models.olsFit(df, f)).summary
    // spark.ml order: coefficients first, intercept LAST
    val mlSe = summary.coefficientStandardErrors
    val mlT = summary.tValues
    val mlP = summary.pValues
    val gramSe = (1 to 2).map(fit.stdErr) :+ fit.stdErr(0)
    val gramCoef = fit.score.terms.map(_.coef) :+ fit.score.intercept
    gramSe.zipWithIndex.foreach { case (se, i) =>
      assert(math.abs(se - mlSe(i)) < 1e-8, s"se $i: $se vs ${mlSe(i)}")
      val t = gramCoef(i) / se
      assert(math.abs(t - mlT(i)) < 1e-6, s"t $i")
      val p = graft.stats.Distributions.tTwoSidedP(t, fit.dfResid)
      assert(math.abs(p - mlP(i)) < 1e-8, s"p $i")
    }
  }

  test("null-space-locked coefficient: wellDetermined=false, healthy coefficients unaffected") {
    // the x10-M2 shape: a constant-zero column contributes nothing —
    // its direction is cut, rank drops by one, inference on it is
    // undefined; everything else matches the fit without the column
    val df = lagData.withColumn("dead", lit(0.0))
    val fDead = "rate ~ district + rate_lag1 + dead"
    val fBase = "rate ~ district + rate_lag1"
    val dead = GramOls.ladderInfer(df, Seq(fDead), cats)(fDead)
    val base = GramOls.ladderInfer(df, Seq(fBase), cats)(fBase)
    assert(dead.rank === base.rank)
    assert(dead.dfResid === base.dfResid)
    val deadIdx = dead.score.terms.indexWhere {
      case LinearScore.Num("dead", _) => true; case _ => false
    } + 1
    assert(!dead.wellDetermined(deadIdx))
    assert(dead.wellDetermined.zipWithIndex.forall {
      case (ok, j) => ok || j == deadIdx
    })
    // healthy coefficients and their ses agree with the reduced fit
    assert(math.abs(dead.stdErr(0) - base.stdErr(0)) < 1e-9)
    assert(math.abs(dead.score.intercept - base.score.intercept) < 1e-9)
    assert(math.abs(dead.sse - base.sse) < 1e-9)
  }

  test("a StringType term outside catCols fails loudly, not as an all-null fit") {
    val e = intercept[IllegalArgumentException] {
      GramOls.ladder(lagData, Seq("rate ~ district + station"), Set("district"))
    }
    assert(e.getMessage.contains("station"))
  }

  test("a BooleanType term stays admissible (casts to a clean 0/1 regressor)") {
    val df = lagData.withColumn("is_high", col("rate_lag1") > 0.5)
    val f = "rate ~ is_high + rate_lag1"
    val viaBool = GramOls.ladder(df, Seq(f), Set.empty)(f)
    val viaDouble = GramOls.ladder(
      df.withColumn("is_high", col("is_high").cast("double")), Seq(f), Set.empty)(f)
    assert(math.abs(viaBool.intercept - viaDouble.intercept) < 1e-12)
    viaBool.terms.zip(viaDouble.terms).foreach { case (a, b) =>
      assert(math.abs(a.coef - b.coef) < 1e-12, s"$a vs $b")
    }
    // the fitted model must also SCORE over the boolean frame (the
    // .column cast makes double×boolean analyze as 0/1)
    val maxDiff = df
      .withColumn("p_bool", viaBool.column)
      .withColumn("p_dbl", viaDouble.column)
      .select(max(abs(col("p_bool") - col("p_dbl")))).as[Double].head()
    assert(maxDiff < 1e-12, s"maxDiff=$maxDiff")
  }

  test("rows with a null categorical are skipped whole, not fitted as base level") {
    val f = "rate ~ district + rate_lag1"
    val withNulls = lagData.withColumn("district",
      when(col("rate_lag1") > 0.8, lit(null)).otherwise(col("district")))
    val onNulls = GramOls.ladder(withNulls, Seq(f), cats)(f)
    val onFiltered = GramOls.ladder(
      withNulls.filter(col("district").isNotNull), Seq(f), cats)(f)
    assert(math.abs(onNulls.intercept - onFiltered.intercept) < 1e-9)
    def key(t: LinearScore.Term): (String, String) = t match {
      case LinearScore.Num(c, _)    => (c, "")
      case LinearScore.Cat(c, v, _) => (c, v)
    }
    val a = onNulls.terms.map(t => key(t) -> t.coef).toMap
    assert(onFiltered.terms.forall(t => math.abs(a(key(t)) - t.coef) < 1e-9))
  }

  test("a 3-model ladder launches no more jobs than a 1-model fit (one shared scan)") {
    lagData.count() // materialize the fixture cache outside the window
    // AQE may split one query into several jobs, so absolute counts are
    // config-dependent; the ladder invariant compares counts instead
    val one = jobsOf {
      GramOls.ladder(lagData, Seq("rate ~ district"), cats)
    }
    val three = jobsOf {
      val out = GramOls.ladder(lagData, Seq(
        "rate ~ district",
        "rate ~ district + hour_str",
        "rate ~ district + hour_str + rate_lag1"), cats)
      assert(out.size === 3)
    }
    assert(three <= one, s"3-model ladder ran $three jobs vs $one for one model")
  }

  test("ladder story on the lag-persistent fixture: M1 < M2 < M3, M3 > 0.85") {
    val fs = Seq(
      "M1" -> "rate ~ district",
      "M2" -> "rate ~ district + hour_str",
      "M3" -> "rate ~ district + hour_str + rate_lag1")
    val fits = GramOls.ladder(lagData, fs.map(_._2), cats)
    def r2(f: String): Double = {
      val ls = fits(f)
      lagData.select(
        (lit(1.0) - sum(pow(col("rate") - ls.column, 2)) /
          (sum(col("rate") * col("rate")) -
            sum(col("rate")) * sum(col("rate")) / count(lit(1)))).as("r2"))
        .as[Double].head()
    }
    val ladder = fs.map { case (n, f) => n -> r2(f) }.toMap
    assert(ladder("M1") < ladder("M2") && ladder("M2") < ladder("M3"), ladder.toString)
    assert(ladder("M3") > 0.85, ladder.toString)
  }
}
