package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class FooterCacheSpec extends AnyFunSuite {

  test("a miss on a full footer cache evicts one entry, not the whole cache") {
    val dir = Files.createTempDirectory("graft-footers")
    val seed = dir.resolve("seed.parquet")
    val w = new ParquetFileWriter.IncrementalFileWriter(seed.toString,
      StructType(Seq(StructField("x", LongType))))
    w.addRow(Row(1L))
    w.close()
    // every copy is a distinct cache key; 8192 of them fill the cache to
    // its bound whatever it held before
    def copy(i: Int): Path = Files.copy(seed, dir.resolve(s"f$i.parquet"))
    (0 until 8192).foreach(i =>
      ParquetFileReader.readFooterOnly(copy(i).toString))
    assert(ParquetFileReader.footerCacheSize == 8192)
    val last = copy(8192).toString
    val meta = ParquetFileReader.readFooterOnly(last)
    assert(ParquetFileReader.footerCacheSize == 8192)
    // the new entry is cached: the next read is a hit on the same instance
    assert(ParquetFileReader.readFooterOnly(last) eq meta)
  }
}
