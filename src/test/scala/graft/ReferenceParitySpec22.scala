package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twenty-second batch of replays of the reference's OWN regression
  * tests — MLDB-665's kmeans function / nearest-neighbour
  * composition over iris centroids. */
class ReferenceParitySpec22 extends AnyFunSuite {

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

  test("MLDB-665: kmeans functionName auto-creates; centroids map to themselves") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "sepal length,sepal width,petal length,petal width,class",
      "named" -> "lineNumber()",
      "outputDataset" -> "iris665").get _)
    e.runProcedure("kmeans.train", Map(
      "trainingData" -> "select * excluding(class) from iris665",
      "outputDataset" -> "iris_kmeans_dataset",
      "centroidsDataset" -> "iris_kmeans_centroids",
      "numClusters" -> "3",
      "modelFileUrl" -> "file://tmp/mldb-665_kmean.bin",
      "functionName" -> "kmeans665").get _)
    // each centroid assigns to itself (rowName == cluster)
    val self = q("""select rowName() as rn,
        kmeans665({embedding: {"sepal length": "c.0", "sepal width": "c.1",
                               "petal length": "c.2", "petal width": "c.3"}})
          [cluster] as cluster
        from iris_kmeans_centroids""").collect()
    assert(self.length === 3)
    self.foreach(r => assert(r.getString(0) === r.getLong(1).toString,
      self.mkString(", ")))
    // the same point assigns identically whatever the field order
    def clusterOf(fields: String): Long =
      q(s"select kmeans665({embedding: {$fields}})[cluster] as c")
        .head().getLong(0)
    val a = clusterOf("""
      "sepal length": 5.1, "sepal width": 3.5,
      "petal length": 1.4, "petal width": 0.2""")
    val b = clusterOf("""
      "petal width": 0.2, "petal length": 1.4,
      "sepal width": 3.5, "sepal length": 5.1""")
    assert(a === b)
    // embedding.neighbors over the centroids dataset composes
    e.createEmbeddingNeighborsFunction("nn665", "iris_kmeans_centroids")
    val nearest = q("""select nn665({coords: '0', numNeighbors: 1})
        [distances] as d""").head().getMap[String, Double](0).toMap
    assert(nearest.keySet === Set("0") && nearest("0") === 0.0, nearest)
  }

  // --- MLDB-284-tsne-apply-function.py ----------------------------------------

  test("MLDB-284: applying a tsne function is a clear failure") {
    val rng = new scala.util.Random(284)
    e.recordRows("toy284", (0 until 60).map { i =>
      s"""{"rowName":"u$i","f1":${rng.nextGaussian()},"f2":${rng.nextGaussian()}}"""
    }.mkString("[", ",", "]"))
    e.runProcedure("tsne.train", Map(
      "from" -> "toy284", "limit" -> "50",
      "rowOutputDataset" -> "toy_tsne284",
      "functionName" -> "tsne_embed284").get _)
    assert(e.dataset("toy_tsne284").count() === 50)
    val ex = intercept[IllegalArgumentException](
      q("select tsne_embed284({embedding: {f1: 0.5, f2: 0.5}}) as o")
        .collect())
    assert(ex.getMessage.contains("cannot be applied"), ex.getMessage)
  }
}
