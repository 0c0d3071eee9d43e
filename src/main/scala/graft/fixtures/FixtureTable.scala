package graft.fixtures

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** One generated media table of the multimodal corpus: rows are a pure
  * function of the row index (planted ground truth by id arithmetic), one
  * parquet directory per scale factor, and the engine and the DuckDB oracle
  * read the same directory.
  *
  * Layout: `<root>/<sf>/<prefix>-v<version>-n<rows>`, `root` defaulting to
  * `<dir>` under [[FixtureDirs.dataRoot]]. The
  * directory name encodes the generation key (version and row count), so
  * existence is validity: there is no marker file, and
  * [[FixtureDirs.ensureAtomic]] publishes each table with one atomic rename,
  * so racing sessions never read a partial write.
  *
  * Row count: one row per `clipsPerRow` clips at the same scale factor
  * ([[ClipGen.clipCountFor]]), and at least `minRows`.
  */
abstract class FixtureTable(prefix: String, dir: String, version: Int,
                            minRows: Long, clipsPerRow: Long) {

  /** The table's rows for indices `0 until n`. */
  def rows(spark: SparkSession, n: Long): DataFrame

  val defaultRoot: String = FixtureDirs.dataRoot.resolve(dir).toString

  private def rowCount(sfDir: String): Long =
    math.max(minRows, ClipGen.clipCountFor(sfDir) / clipsPerRow)

  def targetName(sfDir: String): String = s"$prefix-v$version-n${rowCount(sfDir)}"

  /** Where the table lives for this scale, whether or not generated yet. */
  def tablePath(sfDir: String, root: String = defaultRoot): String =
    Paths.get(root, Paths.get(sfDir).getFileName.toString, targetName(sfDir)).toString

  /** The oracle's parquet glob, derived from the path the engine reads, so
    * the two sides cannot diverge on layout or generation version. */
  def glob(sf: String): String = s"${tablePath(sf)}/*.parquet"

  /** Generate the table for `sfDir` unless it is published; returns its path. */
  def ensure(spark: SparkSession, sfDir: String, root: String = defaultRoot): String = {
    val target = Paths.get(tablePath(sfDir, root))
    FixtureDirs.ensureAtomic(target.getParent, target.getFileName.toString) { tmp =>
      rows(spark, rowCount(sfDir))
        .repartition(4)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  def read(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensure(spark, sfDir))
}

object FixtureTable {
  val media: Seq[FixtureTable] = Seq(ImageGen, VideoGen, MixedImageGen,
    MixedVideoGen, NearDupImageGen, MixedAudioGen)
}
