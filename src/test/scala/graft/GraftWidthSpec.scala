package graft

import org.scalatest.funsuite.AnyFunSuite

/** The volume-scaled AQE width of the [[GraftSession]] mains: floor at
  * the core count, one partition per 16 MB of corpus, cap at 4096 — and
  * never a crash on a missing/unreadable corpus dir (the mains must come
  * up even if the sf dir is wrong; the queries fail loudly later). */
class GraftWidthSpec extends AnyFunSuite {

  test("small corpus lands at the core-count floor") {
    val dir = java.nio.file.Files.createTempDirectory("gw_small_")
    java.nio.file.Files.write(dir.resolve("t.parquet"), new Array[Byte](1 << 20))
    assert(GraftWidth.volumeScaled(dir.toString, 32) == 32)
  }

  test("width derives from bytes past the floor and respects the cap") {
    val dir = java.nio.file.Files.createTempDirectory("gw_big_")
    // 80 MB of files at 16 MB per partition = 5 > floor(4)
    (0 until 5).foreach(i =>
      java.nio.file.Files.write(dir.resolve(s"t$i.bin"), new Array[Byte](16 << 20)))
    assert(GraftWidth.volumeScaled(dir.toString, 4) == 5)
    // the cap branch, exercised through the SHIPPED clamp (a 64 GB fixture
    // is unreasonable; the byte-count form is the same code path)
    assert(GraftWidth.fromBytes(Long.MaxValue, 4) == 4096)
    assert(GraftWidth.fromBytes(100L * GraftWidth.BytesPerInitialPartition, 4) == 100)
    assert(GraftWidth.fromBytes(0L, 32) == 32)
  }

  test("a missing corpus dir degrades to the floor, never throws") {
    assert(GraftWidth.volumeScaled("/nonexistent/sf999", 32) == 32)
  }
}
