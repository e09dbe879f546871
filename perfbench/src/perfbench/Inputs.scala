package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Seeded input tables, written into the benchmark's work directory in
  * the shape of the repository's test data (`documents.parquet` with
  * `doc_id, text`; `customer.parquet` with `c_custkey`), so the library
  * reads them through its own fixture code. The seed picks the entity
  * ids, the document text and the row order; the scale picks the row
  * counts, with the test data's ratios (scale 0.1 = 5 000 documents and
  * 15 000 customers). Text volume and block sizes do not depend on the
  * seed, so seeds vary the data, not the amount of work. */
object Inputs {

  /** The documents table's word list: its text is 10 to 100 words drawn
    * uniformly from these 30. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  def documentCount(scale: Double): Int = math.max(20, math.round(50000 * scale).toInt)
  def customerCount(scale: Double): Int = math.max(30, math.round(150000 * scale).toInt)

  /** `n` distinct ids drawn from [0, 10·n), in seeded order. */
  def entityIds(rnd: SplittableRandom, n: Int): Array[Long] = {
    val space = Array.tabulate(10 * n)(_.toLong)
    shuffle(rnd, space)
    space.take(n)
  }

  private def shuffle(rnd: SplittableRandom, a: Array[Long]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Document `i` of a table: its length (10 to 100 words) and first three
    * words, which decide its block key, depend only on `i`, so every seed
    * yields the same text volume and the same block sizes; the other words
    * come from the seed. */
  def documentText(rnd: SplittableRandom, i: Int): String = {
    val v = Vocabulary.size
    val head = Seq(i % v, (i / v) % v, (i / (v * v)) % v).map(Vocabulary)
    val tail = Seq.fill(7 + (i * 37) % 91)(Vocabulary(rnd.nextInt(v)))
    (head ++ tail).mkString(" ")
  }

  /** Writes `n` documents; returns their ids. The seed picks the entity
    * ids, the words after each document's head and the row order. */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int): Array[Long] = {
    val rnd = new SplittableRandom(seed)
    val ids = entityIds(rnd, n)
    val rows = ids.indices.map(i => Row(ids(i), documentText(rnd, i)))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ids
  }

  /** Writes `n` customer keys: a seeded window of consecutive keys, in
    * seeded order. `AddressFixture` derives each address from the key
    * modulo small pools, so consecutive keys give every seed the same
    * block sizes. */
  def writeCustomers(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    val start = rnd.nextInt(1000000).toLong * 204
    val ids = Array.tabulate(n)(start + _)
    shuffle(rnd, ids)
    val schema = StructType(Seq(StructField("c_custkey", LongType)))
    spark.createDataFrame(ids.toSeq.map(Row(_)).asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }

  /** The ingest stream: `batches` × `rows` distinct right-side
    * conversation ids. Row `j` is variant 1 + j mod (`variants` - 1) of the
    * document at position j mod n, so a batch's block keys, and with them
    * its candidate volume, are the same for every seed; the seed picks the
    * documents' ids and words. */
  def ingestBatches(docIds: Array[Long], variants: Int, batches: Int,
      rows: Int): Seq[Seq[String]] = {
    val ids = (0 until batches * rows).map(j =>
      s"c${docIds(j % docIds.length)}_${1 + j % (variants - 1)}")
    require(ids.distinct.size == ids.size,
      s"${ids.size} ingest rows repeat a conversation of the ${docIds.length} documents")
    ids.grouped(rows).toSeq
  }
}
