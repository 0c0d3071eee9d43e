package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.operators.Windows

/** Graceful stop + restart (the operational resume path, distinct from the
  * crash-replay tests): the query is stopped between micro-batches, MORE
  * INPUT ARRIVES while it is down, and the restarted query picks up from
  * the checkpoint — final sink equals the batch ground truth over all
  * input that ever arrived. */
class StopResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stop, receive more data while down, restart, converge") {
    // stage the full input as 6 time-ordered slice files, reveal 3 first
    val staged = Files.createTempDirectory("staged").toString
    graft.TestSpark.writeTimeOrdered(ClipGen.clipsDf(spark, 180), staged, 6)
    val sliceFiles = Files.walk(Paths.get(staged)).iterator()
    val parquets = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (sliceFiles.hasNext) {
        val p = sliceFiles.next()
        if (p.toString.endsWith(".parquet")) buf += p
      }
      buf.sortBy(p => Files.getLastModifiedTime(p).toMillis)
    }
    assert(parquets.size == 6)

    val live = Files.createTempDirectory("live").toString
    def reveal(p: java.nio.file.Path): Unit =
      Files.copy(p, Paths.get(live, p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES)

    val expected = Windows.tumblingCounts(spark.read.parquet(staged))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"),
      numBuckets = 2, mergeOnRead = true)
    def plan() = ClipStreamJob.tumblingCounts(
      ClipStreamJob.readClipStream(spark, live, maxFilesPerTrigger = 1))

    // phase 1: first half of the stream, then graceful stop
    parquets.take(3).foreach(reveal)
    val q1 = ClipStreamJob.runToTable(plan(), table, ckpt,
      Trigger.AvailableNow(), outputMode = "update")
    q1.awaitTermination(120000)

    // while "down": the rest of the stream lands
    parquets.drop(3).foreach(reveal)

    // phase 2: restart from the same checkpoint
    val q2 = ClipStreamJob.runToTable(plan(), table, ckpt,
      Trigger.AvailableNow(), outputMode = "update")
    q2.awaitTermination(120000)

    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("checkpoint file manager: FileSystem-based, atomic create contract") {
    val dir = Files.createTempDirectory("ckpt-fm")
    val cancelDir = Files.createDirectory(dir.resolve("cancel"))
    val fm = CheckpointFileManager.create(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.getClass.getName)

    // `file:` sets modes in the JVM and leaves what `chmod %04o` leaves
    val fs = new Path(dir.toUri).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[graft.ForkFreeLocalFileSystem], fs.getClass.getName)
    def octal(s: String) = Integer.parseInt(s, 8)
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")
    val modes = Files.createDirectory(dir.resolve("modes"))
    fs.create(new Path(modes.resolve("f").toUri), new FsPermission(octal("640").toShort),
      false, 4096, 1.toShort, 1L << 20, null).close()
    for (name <- Seq("f", ".f.crc"))
      assert(mode(modes.resolve(name)) == octal("640"), f"$name: ${mode(modes.resolve(name))}%o")
    // a directory keeps its setgid bit, as GNU chmod keeps it for 0755
    val sgid = Files.createDirectory(modes.resolve("sgid"))
    Files.setAttribute(sgid, "unix:mode", Integer.valueOf(octal("2775")))
    assert(fs.mkdirs(new Path(sgid.resolve("child").toUri)))
    assert((mode(sgid.resolve("child")) & octal("2000")) != 0,
      f"setgid cleared: ${mode(sgid.resolve("child"))}%o")
    val sticky = Files.createDirectory(modes.resolve("sticky"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission(octal("1777").toShort))
    assert(mode(sticky) == octal("1777"), f"${mode(sticky)}%o")

    val f = new Path(dir.resolve("1").toUri)
    def write(content: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(f, overwriteIfPossible = overwrite)
      out.write(content.getBytes("UTF-8"))
      out.close()
    }
    def read(): String = {
      val in = fm.open(f)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write("v1", overwrite = false)
    assert(read() == "v1")
    // a second create without overwrite is refused and keeps the old file:
    // the offset and commit logs rely on this to detect a concurrent writer
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](write("v2", overwrite = false))
    assert(read() == "v1")
    write("v3", overwrite = true)
    assert(read() == "v3", "overwrite kept the old file: is `file:` served by a " +
      "FileSystem whose rename refuses an existing target?")

    val g = new Path(cancelDir.resolve("1").toUri)
    val out = fm.createAtomic(g, overwriteIfPossible = true)
    out.write("v4".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(g))
    val left = Files.list(cancelDir)
    try assert(left.count() == 0, "cancel left a file behind") finally left.close()
  }
}
