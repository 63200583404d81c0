package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `import.word2vec`
  * (`/root/reference/plugins/nlp/word2vec.cc:248`): load the original
  * word2vec binary format (`<vocab> <dim>\n` then per word:
  * `word<space><dim float32s>`), producing a (word, embedding) table.
  *
  * The parse runs on the driver (the file is a model artifact, MBs to
  * low GBs — same assumption the reference makes); the resulting
  * table is a normal DataFrame, broadcastable into pooling joins. A
  * writer is included for round-trip testing.
  */
object Word2Vec {

  /** `offset`/`limit` follow the reference's config (word2vec.cc:128):
    * skip the first `offset` words, keep at most `limit` (-1 =
    * unbounded) — applied in FILE order while streaming, so a limited
    * read never materializes the skipped tail. `.gz` files decompress
    * transparently like the reference's filter_istream. */
  def read(spark: SparkSession, path: String, offset: Long = 0L,
      limit: Long = -1L): DataFrame = {
    val base: java.io.InputStream =
      new FileInputStream(Sources.requireFile(path))
    val stream = if (path.endsWith(".gz"))
      new java.util.zip.GZIPInputStream(base) else base
    val in = new DataInputStream(new java.io.BufferedInputStream(stream))
    try {
      val header = readLine(in)
      val parts = header.trim.split("\\s+")
      val (vocab, dim) = (parts(0).toInt, parts(1).toInt)
      val from = math.min(offset, Int.MaxValue.toLong).toInt
      val until = if (limit < 0) Int.MaxValue
        else math.min(offset + limit, Int.MaxValue.toLong).toInt
      val rows = (0 until vocab).iterator.map { _ =>
        val word = readToken(in)
        val vec = Array.fill(dim)(java.lang.Float.intBitsToFloat(
          Integer.reverseBytes(in.readInt())))
        Row(word, vec.toSeq)
      }.slice(from, until).toVector
      val schema = StructType(Seq(
        StructField("word", StringType),
        StructField("embedding", ArrayType(FloatType, containsNull = false))))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), schema)
    } finally in.close()
  }

  /** The output is one driver-local binary file, but the vocabulary
    * does NOT have to materialize on the driver to produce it: a real
    * word2vec table (3M words x 300 float32 ≈ 3.6 GB) would OOM a
    * `collect()`. `toLocalIterator` streams one partition at a time —
    * bounded driver memory at the cost of two extra tiny jobs (count
    * for the header, head for the dimension). The projection is PINNED
    * (policy: DfOps.cut) before counting so the header count and the
    * streamed rows come from one materialization — a non-deterministic
    * input (sampled / limited / shuffled) must not disagree between
    * the count job and the iterator job. */
  def write(df: DataFrame, path: String): Unit = {
    val proj = graft.core.DfOps.cut(df.select("word", "embedding"))
    val n = proj.count()
    val dim = if (n == 0) 0
      else proj.head().getAs[scala.collection.Seq[Float]]("embedding").size
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path)))
    try {
      out.writeBytes(s"$n $dim\n")
      val it = proj.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        // UTF-8 bytes — writeBytes drops each char's high byte, which
        // would mangle non-ASCII vocabulary on disk
        out.write(r.getAs[String]("word")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.writeByte(' ')
        r.getAs[scala.collection.Seq[Float]]("embedding").foreach(f =>
          out.writeInt(Integer.reverseBytes(java.lang.Float.floatToIntBits(f))))
      }
    } finally {
      out.close()
      proj.unpersist()
    }
  }

  private def readLine(in: DataInputStream): String = {
    // collect BYTES and decode UTF-8 once — appending each byte as a
    // char would read multi-byte words as Latin-1 mojibake ('café' →
    // 'cafÃ©'), silently unmatchable against real text columns
    val bb = new java.io.ByteArrayOutputStream
    var c = in.read()
    while (c != -1 && c != '\n') { bb.write(c); c = in.read() }
    if (c == -1 && bb.size == 0)
      throw new EOFException("empty word2vec file")
    new String(bb.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def readToken(in: DataInputStream): String = {
    val bb = new java.io.ByteArrayOutputStream
    var c = in.read()
    while (c == '\n' || c == ' ') c = in.read() // skip separators
    while (c != -1 && c != ' ') { bb.write(c); c = in.read() }
    new String(bb.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}
