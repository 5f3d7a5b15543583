package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every table the program reads lives in a fresh
  * directory under the run's work dir; the same seed gives the same
  * bytes.
  */
object Inputs {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Copies the fixture tables `names` from `from` into `to`. */
  def copyTables(from: Path, to: Path, names: Seq[String]): Unit =
    names.foreach { n =>
      val src = from.resolve(s"$n.parquet")
      require(Files.exists(src), s"fixture table missing: $src")
      Files.walk(src).iterator().asScala.foreach { p =>
        val dst = to.resolve(s"$n.parquet").resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else {
          Files.createDirectories(dst.getParent)
          Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }

  /** The 55 contract query ids in a seed-permuted order. */
  def contractOrder(seed: Long): Seq[String] =
    new Random(seed).shuffle(graft.Contract.all.map(_.id))

  /** A block-diagonal `factor`× replica of `docs`: replica r gets doc ids
    * offset by r·[[replicaStride]] and a two-digit tag appended to every
    * token, so replicas share no shingle, window or bigram. The seed picks
    * which tag each replica carries and the file's row order. Tags have
    * equal width, so every replica but the first is an exact image of
    * every other one.
    */
  def replicaDocuments(docs: DataFrame, factor: Int, seed: Long): DataFrame = {
    val tags = new Random(seed).shuffle((0 until 100).toList).take(factor)
      .map(t => lit(f"$t%02d"))
    docs
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("__tag", element_at(array(tags: _*), col("__r") + 1))
      .select(
        (col("doc_id") + col("__r").cast("long") * replicaStride).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1r"), col("__tag"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1)
      .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed)))
  }

  val replicaStride: Long = 1000000L

  /** `n` vectors near seeded picks of `base`: each is a base vector plus
    * Gaussian noise at 2% of the base vectors' RMS component.
    */
  def perturbed(base: IndexedSeq[Array[Float]], n: Int, rnd: Random): Seq[Array[Float]] = {
    val rms = math.sqrt(base.iterator.flatMap(_.iterator).map(x => x.toDouble * x).sum /
      base.map(_.length).sum)
    Seq.fill(n) {
      val b = base(rnd.nextInt(base.size))
      b.map(x => (x + rnd.nextGaussian() * 0.02 * rms).toFloat)
    }
  }

  /** Writes `rounds` single-file parquet batches of `perRound` new
    * vectors with fresh ids under `dir/b<r>`, returning the part files.
    */
  def ingestBatches(spark: SparkSession, base: IndexedSeq[Array[Float]], dir: Path,
      rounds: Int, perRound: Int, seed: Long): Seq[Path] = {
    import spark.implicits._
    val rnd = new Random(seed ^ 0x5eed1L)
    (0 until rounds).map { r =>
      val rows = perturbed(base, perRound, rnd).zipWithIndex.map { case (v, i) =>
        (freshIdBase + r * 10000L + i, v)
      }
      val out = dir.resolve(s"b$r")
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(out.toString)
      Files.list(out).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
  }

  val freshIdBase: Long = 10000000L
}
