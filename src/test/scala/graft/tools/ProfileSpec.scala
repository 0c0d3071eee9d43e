package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {

  private val names = Seq("a1_audio_meta", "c1_extract_fields", "c10_band_energies",
    "c2_tumbling_counts", "d1_dedup_exact")

  test("select: prefixes in catalog order; an empty or unmatched selection lists the valid names") {
    assert(Profile.select("all", names) == Right(names))
    assert(Profile.select(" c2, c1 ", names) ==
      Right(Seq("c1_extract_fields", "c10_band_energies", "c2_tumbling_counts")))
    assert(Profile.select("d1_dedup_exact", names) == Right(Seq("d1_dedup_exact")))
    for (bad <- Seq("", " , ", "zz", "c2,zz")) {
      val msg = Profile.select(bad, names).swap.getOrElse(fail(s"'$bad' was accepted"))
      names.foreach(n => assert(msg.contains(n), s"'$bad': $msg"))
    }
    assert(Profile.select("c2,zz", names).swap.exists(m => m.contains("zz") && !m.contains("c2,")))
  }

  test("fingerprint: one line with nproc, memory, load, heap and master") {
    val line = Profile.fingerprint("local[2]")
    assert(!line.contains("\n"))
    Seq("nproc=", "mem_total_mb=", "load1=", "heap_max_mb=", "master=local[2]")
      .foreach(f => assert(line.contains(f), line))
  }
}
