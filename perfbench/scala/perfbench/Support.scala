package perfbench

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Local-directory helpers for inputs and per-iteration work dirs. */
object Files {
  private def walk(p: Path): Seq[Path] =
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Delete `dir` recursively; a missing dir is fine. */
  def delete(dir: String): Unit =
    walk(Paths.get(dir)).reverse.foreach(JFiles.deleteIfExists)

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    walk(src).foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(dst)
      else JFiles.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** (bytes, regular files) under `dir`, skipping top-level entries named
    * in `exclude`. */
  def usage(dir: String, exclude: Set[String] = Set.empty): (Long, Long) = {
    val root = Paths.get(dir)
    val files = walk(root).filter { p =>
      JFiles.isRegularFile(p) &&
        !exclude.contains(root.relativize(p).getName(0).toString)
    }
    (files.map(JFiles.size).sum, files.size.toLong)
  }
}

/** Seeded tables shaped like the `documents` / `embeddings` test tables
  * (schema and value distributions measured on `sf0.1`; see the README).
  * Every value is a pure hash expression of (seed, row), so the same seed
  * gives the same tables at any parallelism. */
object DocGen {
  private val vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "join", "vector", "customer", "the")

  private val CopySeed = 0L

  private def unif(seed: Long, salt: Int, cols: Column*) =
    (pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1L << 40)).cast("double") +
      0.5) / (1L << 40).toDouble

  private def pick(n: Long, seed: Long, salt: Int, cols: Column*) =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(n))

  /** 10–100 uniform words from the 30-word vocabulary; 5% of the documents
    * are the text of another, random document plus the word "dup". Which
    * documents copy which is the same for every seed: the near-duplicate
    * pair graph, and so the work of the pair operators and the CC rounds
    * over it, depend on `n` only. The seed draws every word, language and
    * vector. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val copy = unif(CopySeed, 10, id) < 0.05
    // a document other than itself
    val base = when(copy, pmod(id + 1 + pick(n - 1, CopySeed, 13, id), lit(n))).otherwise(id)
    val words = array(vocab.map(lit): _*)
    val nWords = (pick(91, seed, 11, base) + 10).cast("int")
    val body = array_join(transform(sequence(lit(0), nWords - 1),
      k => element_at(words, (pick(vocab.size, seed, 12, base, k) + 1).cast("int"))), " ")
    val text = when(copy, concat(body, lit(" dup"))).otherwise(body)
    val u = unif(seed, 15, id)
    spark.range(n).select(id.as("doc_id"), text.as("text"),
        when(u < 0.41, "en").when(u < 0.56, "zh").when(u < 0.71, "es").when(u < 0.86, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Independent unit vectors, uniform on the 64-dim sphere (normalized
    * Gaussians), with a uniform label in 0–9. */
  def embeddings(spark: SparkSession, n: Long, seed: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    val gauss = transform(sequence(lit(0), lit(dim - 1)), d =>
      sqrt(log(unif(seed, 21, id, d)) * -2.0) * cos(unif(seed, 22, id, d) * (2 * math.Pi)))
    val norm = sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x))
    spark.range(n).select(id, gauss.as("g"))
      .select(id.as("vec_id"), transform(col("g"), x => (x / norm).cast("float")).as("embedding"),
        pick(10, seed, 23, id).cast("int").as("label"))
  }
}
