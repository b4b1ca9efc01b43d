package graft

import org.apache.hadoop.fs.Path
import graft.sources.CsvIO

/** A local filesystem registered under the `nrfile://` scheme whose
  * `rename` of a BOM temp file reports failure by returning false, as a
  * Hadoop `FileSystem` may, without throwing. Every other rename (the
  * output committer's) succeeds.
  */
class BomRenameFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nrfile"
  override def getUri: java.net.URI = java.net.URI.create("nrfile:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith(".bom.tmp")) false else super.rename(src, dst)
}

class CsvSinkSpec extends SparkSpec {
  import spark.implicits._

  test("a BOM rewrite whose rename returns false fails the write loudly") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nrfile.impl", classOf[BomRenameFailingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-bom").toString
    val df = Seq(("P1", "fuel pressure low", "LOW PRESSURE FUEL"))
      .toDF("description_id", "english_sentence", "translated_sentence")
    val e = intercept[java.io.IOException] {
      CsvIO.writeOutputCsv(df.coalesce(1), s"nrfile://$dir/out")
    }
    assert(e.getMessage.contains("could not rename"))
    assert(e.getMessage.contains(s"$dir/out/part-"), e.getMessage)
  }
}
