package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Sizes of the engine's caches and of the fimi tables it wrote. */
object Storage {
  /** Files under the fimi work root written during one pass. */
  final case class FimiScan(commits: Long, dataBytes: Long, logBytes: Long, files: Long, logLen: Long)

  private def files(root: File): Iterator[File] =
    if (root.isDirectory) Option(root.listFiles()).iterator.flatten.flatMap(files)
    else if (root.isFile) Iterator(root)
    else Iterator.empty

  private def fimiTables(root: File): Seq[File] =
    if (!root.isDirectory) Nil
    else {
      val kids = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      if (kids.exists(_.getName == graft.sources.fimi.FimiLog.DirName)) Seq(root)
      else kids.flatMap(fimiTables)
    }

  /** Writes since `sinceMs` under `root`: manifests are commits, other
    * files in a fimi log are log bytes, the rest data. `logLen` counts
    * every manifest of every table at the end of the pass. */
  def scanFimi(root: File, sinceMs: Long): FimiScan = {
    var commits, data, log, n = 0L
    files(root).filter(_.lastModified >= sinceMs).foreach { f =>
      n += 1
      if (f.getParentFile.getName == graft.sources.fimi.FimiLog.DirName) {
        log += f.length
        if (f.getName.endsWith(".manifest")) commits += 1
      } else data += f.length
    }
    val logLen = fimiTables(root).map { t =>
      Option(new File(t, graft.sources.fimi.FimiLog.DirName).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".manifest")).toLong
    }.sum
    FimiScan(commits, data, log, n, logLen)
  }

  /** Direct `FimiLog.resolve` to the latest version of every fimi table
    * under `root`, in ms per call. */
  def resolveMs(spark: SparkSession, root: File): Seq[Double] = {
    val conf = spark.sessionState.newHadoopConf()
    fimiTables(root).map { t =>
      val p = new org.apache.hadoop.fs.Path(t.getAbsolutePath)
      val fs = p.getFileSystem(conf)
      val t0 = System.nanoTime()
      graft.sources.fimi.FimiLog.resolve(fs, p, None)
      (System.nanoTime() - t0) / 1e6
    }
  }

  /** Bytes of the session's persisted blocks (the `Tables.memo` frames). */
  def memoBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  def dirBytes(root: File): Double = files(root).map(_.length.toDouble).sum

  /** Published index artifacts: `<root>/<dir hash>/<key>__<fingerprint>`. */
  def indexEntries(root: File): Int =
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(e => e.isDirectory && !e.getName.startsWith("."))

  /** Empties `dir`, keeping the directory itself. */
  def clear(dir: File): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    Option(dir.listFiles()).toSeq.flatten.foreach(rm)
  }
}
