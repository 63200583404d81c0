package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twenty-third batch of replays of the reference's OWN regression
  * tests — the trained-model INTROSPECTION family around the
  * classifier function entity:
  *   - MLDB-565-classifier-details.js (GLZ /details weight rows),
  *   - MLDB-654-classifier-function-info.js (/info ValueInfo shape),
  *   - MLDB-198-classifier-weights.js (example-weight column),
  *   - MLDB-587-empty-classifier.js (the two empty-training errors),
  *   - MLDB-961-glz-categorical.js (string one-hot VALUE_EQUALS
  *     features),
  *   - MLDB-2181_null_feature_model_test.py (null/unseen-category
  *     robustness),
  *   - MLDB-59-probabilizer.js / MLDB-573_explain_function_floats.py
  *     (probabilizer.train + the probabilizer and classifier.explain
  *     function entities),
  * plus the round-10 ADVICE pins (tfidf idfType spellings, GBT /
  * naive_bayes function scoring, embedding.neighbors unknown-row
  * error, gaussianclustering builtin-name rejection). */
class ReferenceParitySpec23 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val e = new api.GraftEngine(spark)
  private def q(sql: String) = {
    val df = e.query(sql)
    if (df.schema.headOption.exists(f =>
        f.name.equalsIgnoreCase("rowName") &&
          f.metadata.contains("graft.implicitRowName")))
      df.drop("rowName")
    else df
  }
  private val client = HttpClient.newHttpClient()

  // --- MLDB-565-classifier-details.js ---------------------------------------------

  test("MLDB-565: glz regression /details carries weights [[1, 0]]") {
    e.recordRows("test565",
      """[{"rowName":"ex1","x":0,"y":0},{"rowName":"ex2","x":1,"y":1},
        |{"rowName":"ex3","x":2,"y":2},{"rowName":"ex4","x":3,"y":3}]"""
        .stripMargin)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x} as features, y as label from test565",
      "algorithm" -> "glz", "mode" -> "regression",
      "modelFileUrl" -> "file://tmp/MLDB-565.cls",
      "functionName" -> "cls_func565").get _)
    def checkDetails(fn: String): Unit = {
      val d = e.functionDetails(fn)
      assert(d.contains(""""type": "GLZ""""), d)
      assert(d.contains(""""addBias": true"""), d)
      assert(d.contains(""""link": "LINEAR""""), d)
      assert(d.contains("""{"extract": "VALUE", "feature": "x"}"""), d)
      // weights: one output row [w_x, bias] ≈ [1, 0]
      val w = """"weights": \[\[([-0-9.eE]+),([-0-9.eE]+)\]\]""".r
        .findFirstMatchIn(d).getOrElse(fail(s"no weights in $d"))
      assert(math.abs(w.group(1).toDouble - 1.0) < 1e-6, d)
      assert(math.abs(w.group(2).toDouble) < 1e-6, d)
    }
    checkDetails("cls_func565")
    // a second classifier function from the same model reads the same
    e.createClassifierFunction("regressor565", "file://tmp/MLDB-565.cls")
    checkDetails("regressor565")
  }

  // --- MLDB-654-classifier-function-info.js ---------------------------------------

  test("MLDB-654: /info reflects input features and output scores as ValueInfo") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "sepal length,sepal width,petal length,petal width,class",
      "named" -> "lineNumber()",
      "outputDataset" -> "iris654").get _)
    e.runProcedure("classifier.train", Map(
      "trainingData" ->
        "select {* excluding(class)} as features, class as label from iris654",
      "algorithm" -> "glz", "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-654.cls",
      "functionName" -> "iris_cls654").get _)
    val srv = new api.RestServer(e)
    val port = srv.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/functions/iris_cls654/info"))
        .GET.build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200, r.body())
      val info = r.body()
      // input: one row arg holding `features`, whose knownColumns are
      // the four feature columns ALPHABETICALLY, each Float32
      val featNames = """"columnName": "((?:sepal|petal) (?:length|width))""""
        .r.findAllMatchIn(info).map(_.group(1)).toSeq
      assert(featNames === Seq("petal length", "petal width",
        "sepal length", "sepal width"), info)
      assert(info.contains(""""columnName": "features""""), info)
      // output: scores row with the three labels at offsets 0/1/2
      val labelOff =
        """"columnName": "(Iris-[a-z]+)", "offset": (\d)""".r
          .findAllMatchIn(info).map(m => m.group(1) -> m.group(2).toInt).toSeq
      assert(labelOff === Seq("Iris-setosa" -> 0, "Iris-versicolor" -> 1,
        "Iris-virginica" -> 2), info)
      assert(info.contains(""""type": "MLDB::RowValueInfo""""), info)
      assert(info.contains(""""type": "MLDB::Float32ValueInfo""""), info)
      assert(info.contains(""""kind": "row""""), info)
      assert(info.contains(""""sparsity": "dense""""), info)
    } finally srv.stop()
  }

  // --- MLDB-198-classifier-weights.js ---------------------------------------------

  test("MLDB-198: the weight column moves the decision boundary") {
    e.recordRows("test198",
      """[{"rowName":"ex00","x":0,"y":0,"label":0,"test":"none"},
        |{"rowName":"ex10","x":1,"y":0,"label":1,"test":"none"},
        |{"rowName":"ex01","x":0,"y":1,"label":1,"test":"none"},
        |{"rowName":"ex111","x":1,"y":1,"label":1,"test":"isone"},
        |{"rowName":"ex110","x":1,"y":1,"label":0,"test":"iszero"}]"""
        .stripMargin)
    def trainAndScore(name: String, weight: String): Double = {
      e.runProcedure("classifier.train", Map(
        "trainingData" -> ("select {x, y} as features, label, " +
          s"$weight as weight from test198"),
        "algorithm" -> "glz", "mode" -> "boolean",
        "modelFileUrl" -> s"file://tmp/MLDB-198_$name.cls",
        "functionName" -> name).get _)
      q(s"select $name({features: {x: 1, y: 1}})[score] as s")
        .head().getDouble(0)
    }
    val score = trainAndScore("w198_unweighted", "1.0")
    val score1 = trainAndScore("w198_isone", "1 + 1000 * (test = 'isone')")
    val score0 = trainAndScore("w198_iszero", "1 + 1000 * (test = 'iszero')")
    assert(score <= score1 + 1e-9, s"$score > $score1")
    assert(score0 <= score + 1e-9, s"$score0 > $score")
    // the heavy up-weights dominate: P(true|1,1) high when the
    // (1,1)→1 example carries the weight, low when (1,1)→0 does
    assert(score1 > 0.5, s"score1 $score1")
    assert(score0 < 0.5, s"score0 $score0")
  }

  // --- MLDB-587-empty-classifier.js -----------------------------------------------

  test("MLDB-587: empty training distinguishes filtered-out from empty dataset") {
    e.recordRows("test587",
      """[{"rowName":"ex1","x":0,"y":0},{"rowName":"ex2","x":1,"y":1}]""")
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("classifier.train", Map(
        "trainingData" ->
          "select {x} as features, y as label from test587 where false",
        "algorithm" -> "glz", "mode" -> "regression",
        "modelFileUrl" -> "file://tmp/MLDB-587.cls").get _))
    assert(ex.getMessage.contains("all rows were filtered"), ex.getMessage)
    // an EMPTY source dataset is the other message
    e.createDatasetTyped("test587b", "sparse.mutable", _ => None)
    val ex2 = intercept[IllegalArgumentException](
      e.runProcedure("classifier.train", Map(
        "trainingData" ->
          "select {x} as features, y as label from test587b where false",
        "algorithm" -> "glz", "mode" -> "regression",
        "modelFileUrl" -> "file://tmp/MLDB-587.cls").get _))
    assert(ex2.getMessage.contains("dataset was empty"), ex2.getMessage)
  }

  // --- MLDB-961-glz-categorical.js ------------------------------------------------

  test("MLDB-961: string features one-hot as VALUE_EQUALS in /details") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "sepal length,sepal width,petal length,petal width,class",
      "named" -> "lineNumber()",
      "outputDataset" -> "iris961").get _)
    e.runProcedure("transform", Map(
      "inputData" -> ("select *, CASE WHEN \"petal width\" > 1.00 " +
        "THEN 'long' ELSE 'short' END as petalCat from iris961"),
      "outputDataset" -> "iris961cat").get _)
    e.runProcedure("classifier.train", Map(
      "trainingData" ->
        "select {* excluding(class)} as features, class as label from iris961cat",
      "algorithm" -> "glz", "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-961.cls",
      "functionName" -> "iris_cls961").get _)
    val d = e.functionDetails("iris_cls961")
    // the reference's feature_list pin (sorted key = feature-extract
    // [-category])
    val feats =
      """\{(?:"category": "([^"]+)", )?"extract": "([A-Z_]+)", "feature": "([^"]+)"\}"""
        .r.findAllMatchIn(d).map { m =>
          Option(m.group(1)) match {
            case Some(c) => s"${m.group(3)}-${m.group(2)}-$c"
            case None => s"${m.group(3)}-${m.group(2)}"
          }
        }.toSeq.sorted
    assert(feats === Seq(
      "petal length-VALUE", "petal width-VALUE",
      "petalCat-VALUE_EQUALS-long", "petalCat-VALUE_EQUALS-short",
      "sepal length-VALUE", "sepal width-VALUE"), d)
    // the trained function applies over the full feature row —
    // including the one-hot string column — and separates setosa
    val acc = q("""select avg(CASE WHEN
        iris_cls961({{* excluding(class)} as features})
          [scores]["Iris-setosa"] > 0.5
        = (class = 'Iris-setosa') THEN 1.0 ELSE 0.0 END) as acc
      from iris961cat""").head().getDouble(0)
    assert(acc > 0.95, s"full-feature setosa accuracy $acc")
  }

  // --- MLDB-2181_null_feature_model_test.py ---------------------------------------

  test("MLDB-2181: null-trained and unseen-category features apply cleanly") {
    val rng = new scala.util.Random(2181)
    val rows = (0 until 20).map { i =>
      val label = if (i < 10) 1 else 0
      val feature = rng.nextDouble() + (if (i < 10) 0.0 else 0.6)
      val aOrB = if (rng.nextDouble() > 0.5) "a" else "b"
      s"""{"rowName":"row$i","line":$i,"label":$label,""" +
        s""""feature":$feature,"noise":${rng.nextDouble()},""" +
        s""""a_or_b":"$aOrB"}"""
    }.mkString("[", ",", "]")
    e.recordRows("pre2181", rows)
    // the reference pushes NULL via a transform (can't record nulls)
    e.runProcedure("transform", Map(
      "inputData" -> "select *, NULL as issue from pre2181",
      "outputDataset" -> "train2181").get _)
    e.runProcedure("classifier.train", Map(
      "trainingData" ->
        "select {feature, noise, issue} as features, label from train2181",
      "algorithm" -> "bagging", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-2181.cls",
      "functionName" -> "score_it2181").get _)
    // string over null-trained feature
    val r1 = e.runProcedure("classifier.test", Map(
      "mode" -> "boolean",
      "testingData" -> ("select score_it2181({features: " +
        "{feature: feature, noise: noise, issue: 'STRING'}})[score] " +
        "as score, label from pre2181")).get _)
    assert(r1.contains("auc"), r1)
    // numbers over null-trained feature
    val r2 = e.runProcedure("classifier.test", Map(
      "mode" -> "boolean",
      "testingData" -> ("select score_it2181({features: " +
        "{feature: feature, noise: noise, issue: noise * 10}})[score] " +
        "as score, label from pre2181")).get _)
    assert(r2.contains("auc"), r2)
    // an UNSEEN category of a trained string feature reads 0 everywhere
    e.runProcedure("classifier.train", Map(
      "trainingData" ->
        "select {feature, noise, a_or_b} as features, label from pre2181",
      "algorithm" -> "bagging", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-2181b.cls",
      "functionName" -> "score_ab2181").get _)
    val r3 = e.runProcedure("classifier.test", Map(
      "mode" -> "boolean",
      "testingData" -> ("select score_ab2181({features: " +
        "{feature: feature, noise: noise, a_or_b: 'c'}})[score] " +
        "as score, label from pre2181")).get _)
    assert(r3.contains("auc"), r3)
  }

  // --- MLDB-59-probabilizer.js / MLDB-573_explain_function_floats.py --------------

  test("MLDB-59/573: probabilizer.train calibrates; explain function decomposes") {
    val rng = new scala.util.Random(59)
    val rows = (0 until 200).map { i =>
      val x = rng.nextDouble()
      val label = if (x + 0.3 * rng.nextDouble() > 0.6) 1 else 0
      s"""{"rowName":"g$i","x":$x,"y":${rng.nextDouble()},"label":$label}"""
    }.mkString("[", ",", "]")
    e.recordRows("prob59", rows)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x, y} as features, label from prob59",
      "algorithm" -> "glz", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-59.cls",
      "functionName" -> "cls59").get _)
    e.runProcedure("probabilizer.train", Map(
      "trainingData" -> ("select cls59({{x, y} as features})[score] " +
        "as score, label from prob59"),
      "modelFileUrl" -> "file://tmp/MLDB-59-prob.json",
      "functionName" -> "probabilizer59").get _)
    // composed application probabilizer(classifier(..)) — the
    // reference's [prob] read; monotone in the raw score, in [0,1]
    val scored = q("""select cls59({{x, y} as features})[score] as s,
        probabilizer59(cls59({{x, y} as features}))[prob] as p
      from prob59""").collect()
    scored.foreach { r =>
      val p = r.getDouble(1)
      assert(p >= 0.0 && p <= 1.0, s"prob $p")
    }
    val sorted = scored.sortBy(_.getDouble(0))
    sorted.sliding(2).foreach { w =>
      assert(w(0).getDouble(1) <= w(1).getDouble(1) + 1e-9,
        "probabilizer must be monotone in score")
    }
    // classifier.test over the calibrated score (MLDB-59's last step)
    val acc = e.runProcedure("classifier.test", Map(
      "mode" -> "boolean",
      "testingData" -> ("select probabilizer59(cls59({{x, y} as " +
        "features}))[prob] as score, label from prob59")).get _)
    assert(acc.contains("auc"), acc)
    // classifier.explain as a REST-creatable FUNCTION (MLDB-573):
    // bias + Σ contributions = the glz margin; σ(margin) = the score
    val srv = new api.RestServer(e)
    val port = srv.start()
    try {
      val put = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/functions/explain59"))
        .PUT(HttpRequest.BodyPublishers.ofString(
          """{"type": "classifier.explain",
            |"params": {"modelFileUrl": "file://tmp/MLDB-59.cls"}}"""
            .stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(put.statusCode() < 400, put.body())
    } finally srv.stop()
    val ex = q("""select explain59({features: {x: 0.7, y: 0.2}})[bias] as b,
        explain59({features: {x: 0.7, y: 0.2}})[explanation] as contribs,
        cls59({features: {x: 0.7, y: 0.2}})[score] as s""").head()
    val margin = ex.getDouble(0) +
      ex.getStruct(1).toSeq.map(_.asInstanceOf[Double]).sum
    val sigma = 1.0 / (1.0 + math.exp(-margin))
    assert(math.abs(sigma - ex.getDouble(2)) < 1e-9,
      s"explain margin $margin vs score ${ex.getDouble(2)}")
  }

  test("MLDB-573: explain function over a tree ensemble applies") {
    // bagging model on the same data — the function must decompose
    // tree paths too (MLDB-573 trains bagging and applies explain)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x, y} as features, label from prob59",
      "algorithm" -> "bagging", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-573.cls").get _)
    e.createClassifierExplainFunction("explain573", "file://tmp/MLDB-573.cls")
    val r = q("""select explain573({features: {x: 0.9, y: 0.5}})[bias] as b,
        explain573({features: {x: 0.9, y: 0.5}})[explanation][x] as cx""")
      .head()
    assert(!r.isNullAt(0) && !r.isNullAt(1), r.toString)
  }

  // --- round-10 ADVICE pins -------------------------------------------------------

  test("ADVICE: tfidf accepts reference idfType spellings, rejects unknowns") {
    // tokenize splits on ',' by default (the reference's splitChars)
    e.recordRows("tf23",
      """[{"rowName":"d1","text":"butter,jelly,time"},
        |{"rowName":"d2","text":"butter,jelly"},
        |{"rowName":"d3","text":"butter,time"}]""".stripMargin)
    e.runProcedure("tfidf.train", Map(
      "trainingData" -> "select tokenize(text) as * from tf23",
      "modelFileUrl" -> "file://tmp/tf23.idf").get _)
    // 'unary' scores tf alone (idf ≡ 1)
    e.createTfidfFunction("tfidf23_unary", "file://tmp/tf23.idf",
      tfType = "raw", idfType = "unary")
    val s = q("select tfidf23_unary({input: {butter: 2}})[output][butter] as v")
      .head().getDouble(0)
    assert(math.abs(s - 2.0) < 1e-12, s.toString)
    // 'probabilisticInverse' (reference spelling) works; log((N-nt)/(1+nt))
    e.createTfidfFunction("tfidf23_pi", "file://tmp/tf23.idf",
      tfType = "raw", idfType = "probabilisticInverse")
    val pi = q("select tfidf23_pi({input: {time: 1}})[output][time] as v")
      .head().getDouble(0)
    assert(math.abs(pi - math.log((3.0 - 2.0) / (1.0 + 2.0))) < 1e-9,
      pi.toString)
    // unknown spellings fail at creation, not silently fall back
    val bad = intercept[IllegalArgumentException](
      e.createTfidfFunction("tfidf23_bad", "file://tmp/tf23.idf",
        idfType = "probabilistic_inverse"))
    assert(bad.getMessage.contains("unknown idfType"), bad.getMessage)
    val bad2 = intercept[IllegalArgumentException](
      e.createTfidfFunction("tfidf23_bad2", "file://tmp/tf23.idf",
        tfType = "loglog"))
    assert(bad2.getMessage.contains("unknown tfType"), bad2.getMessage)
  }

  test("ADVICE: boosting and naive_bayes classifier functions score") {
    for ((algo, fn) <- Seq("boosting" -> "cls23_gbt",
        "naive_bayes" -> "cls23_nb")) {
      e.runProcedure("classifier.train", Map(
        "trainingData" -> "select {x, y} as features, label from prob59",
        "algorithm" -> algo, "mode" -> "boolean",
        "modelFileUrl" -> s"file://tmp/cls23_$algo.cls",
        "functionName" -> fn).get _)
      val scored = q(s"""select $fn({{x, y} as features})[score] as s,
          label from prob59""").collect()
      scored.foreach { r =>
        val p = r.getDouble(0)
        assert(p >= 0.0 && p <= 1.0, s"$algo score $p")
      }
      // better than chance on its own training set
      val acc = scored.map(r =>
        if ((r.getDouble(0) > 0.5) == (r.getLong(1) == 1L)) 1.0 else 0.0)
        .sum / scored.length
      // naive_bayes is a weak learner on continuous features — the
      // pin is better-than-chance scoring, not a strong fit
      assert(acc > 0.6, s"$algo train accuracy $acc")
    }
    // an unsupported algorithm fails at CREATION with a clear message
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x, y} as features, label from prob59",
      "algorithm" -> "svm", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/cls23_svm.cls").get _)
    val ex = intercept[IllegalArgumentException](
      e.createClassifierFunction("cls23_svm", "file://tmp/cls23_svm.cls"))
    assert(ex.getMessage.contains("not supported for plan-literal scoring"),
      ex.getMessage)
  }

  test("ADVICE: embedding.neighbors errors on an unknown row name") {
    e.recordRows("emb23",
      """[{"rowName":"p1","d0":0,"d1":0},{"rowName":"p2","d0":1,"d1":1}]""")
    e.createEmbeddingNeighborsFunction("nn23", "emb23")
    // a known row name resolves
    val ok = q("select nn23({coords: 'p1', numNeighbors: 1})[distances] as d")
      .head()
    assert(!ok.isNullAt(0))
    // an unknown one raises, instead of a map of NaN distances
    val ex = intercept[Exception](
      q("select nn23({coords: 'nosuchrow'})[distances] as d").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("unknown row")), ex.toString)
  }

  test("ADVICE: gaussianclustering function name can't shadow a builtin") {
    val rows = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 0.0 else 5.0
      s"""{"rowName":"r$i","x":${c + i % 7 * 0.01},"y":${c + i % 5 * 0.01}}"""
    }.mkString("[", ",", "]")
    e.recordRows("gmm23", rows)
    e.runProcedure("gaussianclustering.train", Map(
      "trainingData" -> "select x, y from gmm23",
      "numClusters" -> "2",
      "modelFileUrl" -> "file://tmp/gmm23.gmm").get _)
    val ex = intercept[IllegalArgumentException](
      e.createGaussianClusteringFunction("sqrt", "file://tmp/gmm23.gmm"))
    assert(ex.getMessage.toLowerCase.contains("built-in"), ex.getMessage)
  }
}
