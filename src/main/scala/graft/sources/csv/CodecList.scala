package graft.sources.csv

import scala.jdk.CollectionConverters._

/** The session's Hadoop codec list (`io.compression.codecs`), shared by
  * [[ZstdCodec.register]] and [[ZipCsvCodec.register]]. */
private[csv] object CodecList {
  private val Key = "io.compression.codecs"

  /** Append codec class `name` to the list unless it is already there.
    * When the key is UNSET Hadoop discovers codecs via ServiceLoader; once
    * set, the listed codecs REPLACE that discovery — so the list is seeded
    * with the discovered codecs, or a bare custom entry would make
    * .gz/.bz2/... unreadable for the whole session. */
  def register(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val existing = Option(conf.get(Key)).filter(_.nonEmpty) match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        java.util.ServiceLoader
          .load(classOf[org.apache.hadoop.io.compress.CompressionCodec])
          .iterator().asScala.map(_.getClass.getName).toSeq
    }
    if (!existing.contains(name)) conf.set(Key, (existing :+ name).mkString(","))
  }
}
