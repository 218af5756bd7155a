package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one source of randomness: everything a workload feeds
  * the program derives from the run's seed through this. */
final class Gen(seed: Long) {
  private val r = new java.util.Random(seed)
  def gaussian(): Double = r.nextGaussian()
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  /** `n` distinct draws from `pool`, in pool order. */
  def sample[T](pool: IndexedSeq[T], n: Int): IndexedSeq[T] = {
    val idx = scala.util.Random.javaRandomToRandom(r)
      .shuffle(pool.indices.toVector).take(n).sorted
    idx.map(pool)
  }
}

/** Column-chunk bytes of a parquet layout, read from its file footers. */
object Footer {
  def columnBytes(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
      finally walk.close()
    val chunks = files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(
        _.getColumns.asScala.map(c =>
          c.getPath.toArray.head -> c.getTotalSize))
      finally reader.close()
    }
    chunks.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
}

/** Run independent tasks on their own threads and wait for all of them;
  * the first failure is rethrown. */
object Concurrently {
  def run(tasks: Seq[() => Unit]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => errors.add(e) })
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}
