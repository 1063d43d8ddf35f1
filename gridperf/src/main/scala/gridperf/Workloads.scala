package gridperf

import java.io.File

import graft.Pipeline.Warehouse

/** Helpers shared by the workloads. */
object Workloads {

  def rmTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Parquet data files under a directory tree. */
  def parquetFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).fold(0)(_.map(walk).sum)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }

  /** (Bronze files, Silver files) of a published warehouse. */
  def storeFiles(wh: Warehouse): (Double, Double) =
    (parquetFiles(wh.bronze).toDouble, parquetFiles(wh.silver).toDouble)
}
