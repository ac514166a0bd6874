package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BytesVec
import graft.operators.ColBuilder

/** A file writer hands its column arenas back to the thread's pool when it
  * closes, as an encode task does, so the next writer or encoder on that
  * thread starts at full size instead of regrowing from 64 KB. */
class WriterArenaSpec extends AnyFunSuite {

  test("a closed file writer returns its string arena to the thread's pool") {
    val dir = Files.createTempDirectory("writer-arena")
    val schema = StructType(Seq(StructField("s", StringType)))
    val value = "x" * 1024
    val rows = 2048 // a 2 MiB string column in one row group
    var arena = -1
    var failure: Throwable = null
    // a fresh thread: its pool holds only what this writer gives back
    val t = new Thread(() =>
      try {
        ParquetFileWriter.writeFile(s"$dir/a.parquet", schema,
          Iterator.fill(rows)(Row(value)), codec = PqCodec.Uncompressed)
        arena = ColBuilder(StringType).build().asInstanceOf[BytesVec].data.length
      } catch { case e: Throwable => failure = e })
    t.start()
    t.join()
    if (failure != null) throw failure
    assert(arena >= rows * value.length, s"next builder's arena: $arena bytes")
    Files.delete(dir.resolve("a.parquet"))
    Files.delete(dir)
  }
}
