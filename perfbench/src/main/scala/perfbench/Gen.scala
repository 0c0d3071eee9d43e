package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession

import graft.audio.{AudioCodec, AudioSynth}
import graft.fixtures.{ClipGen, Persons, TimedClipRow, TranscriptUpdate}

/** One generated input set: `files` in stream order (strictly increasing
  * mtimes), the optional transcript-update table, and for the dedup
  * workload the planted twins that must be dropped. */
final case class Inputs(clipsDir: Path, updatesDir: Path,
    files: IndexedSeq[Path], nClips: Int, nRows: Int, allIds: Set[String],
    twinIds: Set[String], firstIndex: Long) {
  /** ids a loss-free dedup keeps: everything but the planted twins */
  def originalIds: Set[String] = allIds -- twinIds
}

/** Seeded input generator over the engine's own fixture synthesizer
  * (`ClipGen.clipRow` / `ClipGen.durOf`): file `k` of a pool holds clip
  * indexes `[k*C, (k+1)*C)` with ClipGen's event-time clock, and the seed
  * picks a window of consecutive pool files. Pool files are generated on
  * first use and cached under `root`; a window is a directory of hard
  * links to them, so the same seed always yields the same bytes and a new
  * seed costs only the pool files it has not seen yet. */
object Gen {
  val Version = 2
  private val epochMs = ClipGen.EpochBase.toEpochMilli

  /** Residue of the c15 twin recipe: every 20th clip gets a trimmed and
    * transcoded twin (5% of the originals). */
  def isTwinned(idx: Long): Boolean = idx % 20 == 10

  /** Same recipe as c15/c20: drop the first 160 samples of the encoded
    * bytes, then transcode through the other G.711 codec. */
  def twinOf(r: TimedClipRow, eventTime: java.sql.Timestamp): TimedClipRow = {
    val twinCodec = if (r.codec == AudioCodec.Ulaw) AudioCodec.Alaw else AudioCodec.Ulaw
    val skip = if (r.codec == AudioCodec.Pcm16) 320 else 160
    val trimmed = java.util.Arrays.copyOfRange(r.bytes, skip, r.bytes.length)
    TimedClipRow(r.clip_id + "-s", AudioCodec.transcode(trimmed, r.codec, twinCodec),
      r.sr_hz, r.dur_ms, twinCodec, r.transcript, r.person_idx, eventTime)
  }

  /** Pool file of a clip index. */
  private def fileOf(idx: Long, c: Int): Int = (idx / c).toInt
  /** A twin lands 2-4 files after its original: with two files per trigger
    * it always arrives in a later micro-batch than its original. */
  private def twinFile(idx: Long, c: Int): Int = fileOf(idx, c) + 2 + (idx / 20 % 3).toInt

  /** Window of `nFiles` pool files chosen by `seed` among `poolFiles`. */
  def firstFile(seed: Long, nFiles: Int, poolFiles: Int): Int =
    java.lang.Long.remainderUnsigned(AudioSynth.mix64(0x5EED_B00CL ^ seed),
      (poolFiles - nFiles + 1).toLong).toInt

  def ensure(spark: SparkSession, root: Path, workload: String, seed: Long,
             clipsPerFile: Int, nFiles: Int, poolFiles: Int,
             twins: Boolean, updates: Boolean): Inputs = {
    import spark.implicits._
    val c = clipsPerFile
    val pool = root.resolve(s"pool-v$Version-${if (twins) "twins" else "plain"}-c$c")
    val k0 = firstFile(seed, nFiles, poolFiles)
    // ClipGen's event-time clock: dur_ms accumulated from index 0 / Streams
    val maxIdx = (k0 + nFiles).toLong * c
    val eventMs = new Array[Long](maxIdx.toInt + 1)
    var acc = 0L
    (0L until maxIdx).foreach { i =>
      eventMs(i.toInt) = epochMs + acc / ClipGen.Streams
      acc += ClipGen.durOf(i)
    }
    def poolFile(k: Int) = pool.resolve(f"f-$k%06d.parquet")
    val missing = (k0 until k0 + nFiles).filterNot(k => Files.exists(poolFile(k)))
    if (missing.nonEmpty) {
      val tmp = root.resolve(s"_tmp-${ProcessHandle.current.pid}")
      deleteRecursively(tmp)
      def row(i: Long): TimedClipRow = {
        val r = ClipGen.clipRow(i)
        TimedClipRow(r.clip_id, r.bytes, r.sr_hz, r.dur_ms, r.codec, r.transcript,
          r.person_idx, new java.sql.Timestamp(eventMs(i.toInt)))
      }
      val ks = missing.toArray
      spark.range(0, ks.length, 1, ks.length).as[Long].flatMap { p =>
        val k = ks(p.toInt)
        val own = (k.toLong * c until (k + 1).toLong * c).map(row)
        val tws =
          if (!twins) Nil
          else (math.max(0L, (k - 4).toLong * c) until k.toLong * c)
            .filter(i => isTwinned(i) && twinFile(i, c) == k)
            .map(i => twinOf(row(i), new java.sql.Timestamp(eventMs(k * c))))
        own ++ tws
      }.write.parquet(tmp.toString)
      Files.createDirectories(pool)
      val parts = listSorted(tmp).filter(_.getFileName.toString.startsWith("part-"))
      require(parts.length == ks.length, s"expected ${ks.length} pool files, got ${parts.length}")
      parts.zip(ks).foreach { case (p, k) =>
        // stream order = file order: strictly increasing modification times
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochMs + k * 1000L))
        Files.move(p, poolFile(k), StandardCopyOption.ATOMIC_MOVE)
      }
      deleteRecursively(tmp)
    }

    val dir = root.resolve(s"$workload-v$Version-s$seed-c$c-f$nFiles")
    val clipsDir = dir.resolve("clips")
    val updatesDir = dir.resolve("updates")
    val idx = (k0.toLong * c until (k0 + nFiles).toLong * c)
    val files = (k0 until k0 + nFiles).map(k => clipsDir.resolve(poolFile(k).getFileName))
    val marker = dir.resolve("_done")
    if (!Files.exists(marker)) {
      // only the current window of a workload is kept; the pool stays
      listSorted(root).filter(_.getFileName.toString.startsWith(workload + "-"))
        .foreach(deleteRecursively)
      Files.createDirectories(clipsDir)
      (k0 until k0 + nFiles).foreach(k => Files.createLink(files(k - k0), poolFile(k)))
      if (updates)
        idx.filter(ClipGen.isUpdated).map { i =>
          TranscriptUpdate(ClipGen.clipId(i),
            Persons.enrichedTranscript(Persons.all((i % Persons.N).toInt)),
            new java.sql.Timestamp(eventMs(i.toInt) + 15000L))
        }.toDS().coalesce(1).write.parquet(updatesDir.toString)
      Files.writeString(marker, s"first_file=$k0\n")
    }
    val twinIdx = if (!twins) Seq.empty[Long]
      else (math.max(0L, (k0 - 4).toLong * c) until (k0 + nFiles).toLong * c)
        .filter(i => isTwinned(i) && twinFile(i, c) >= k0 && twinFile(i, c) < k0 + nFiles)
    val ownIds = idx.map(ClipGen.clipId).toSet
    // twins whose original precedes the window are ordinary new clips here
    val twinIds = twinIdx.filter(_ >= idx.head).map(i => ClipGen.clipId(i) + "-s").toSet
    val allIds = ownIds ++ twinIdx.map(i => ClipGen.clipId(i) + "-s")
    Inputs(clipsDir, updatesDir, files, idx.length, allIds.size, allIds, twinIds, idx.head)
  }

  def listSorted(p: Path): IndexedSeq[Path] =
    if (!Files.exists(p)) IndexedSeq.empty
    else {
      val s = Files.list(p)
      try s.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString).toIndexedSeq
      finally s.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Read every byte under `paths` once so timed runs start page-cache warm. */
  def warmPageCache(paths: Seq[Path]): Unit = {
    val buf = new Array[Byte](1 << 20)
    paths.foreach { root =>
      if (Files.exists(root)) {
        val s = Files.walk(root)
        try s.filter(Files.isRegularFile(_)).forEach { p =>
          val in = Files.newInputStream(p)
          try while (in.read(buf) >= 0) () finally in.close()
        } finally s.close()
      }
    }
  }

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
