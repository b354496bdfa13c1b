import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

package object graftbench {
  /** Delete `dir` and everything under it (java.nio: not counted). */
  def wipe(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }

  /** Parquet files directly in `dir` (java.nio: not counted). */
  def parquetFilesIn(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0L
    else {
      val st = Files.list(p)
      try st.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
  }
}
