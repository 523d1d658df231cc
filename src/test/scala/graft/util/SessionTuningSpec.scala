package graft.util

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The input-bytes derivation of [[SessionTuning.shufflePartitions]] must
  * see a table however it is laid out on disk: one `<table>.parquet` file
  * or a `<table>.parquet/` directory of part files. Sizes come from sparse
  * files, so the spec writes no real bytes. */
class SessionTuningSpec extends AnyFunSuite {

  private val MB = 1L << 20

  private def sparse(f: File, bytes: Long): Unit = {
    f.getParentFile.mkdirs()
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  test("a nested copy of a layout derives the same count as the flat one") {
    val flat = Files.createTempDirectory("tuning_flat").toFile
    sparse(new File(flat, "orders.parquet"), 200 * MB)
    sparse(new File(flat, "lineitem.parquet"), 100 * MB)
    val nested = Files.createTempDirectory("tuning_nested").toFile
    (0 until 4).foreach { i =>
      sparse(new File(nested, s"orders.parquet/part-0000$i.parquet"), 50 * MB)
    }
    sparse(new File(nested, "lineitem.parquet/part-00000.parquet"), 100 * MB)
    // ignored at any depth: not parquet
    sparse(new File(nested, "orders.parquet/_SUCCESS"), 500 * MB)
    val expected = math.ceil(300.0 / 8).toInt
    assert(SessionTuning.shufflePartitions(flat.toString) === expected)
    assert(SessionTuning.shufflePartitions(nested.toString) === expected)
  }

  test("a directory without parquet bytes derives the floor") {
    val empty = Files.createTempDirectory("tuning_empty").toFile
    assert(SessionTuning.shufflePartitions(empty.toString) === 8)
  }
}
