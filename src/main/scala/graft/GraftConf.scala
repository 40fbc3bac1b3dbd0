package graft

import org.apache.spark.sql.SparkSession

/** The one reader for `spark.graft.*` settings. */
object GraftConf {

  /** The value of `key` parsed by `parse`, or `None` when unset. A value
    * `parse` rejects fails with an error naming the key and the value,
    * never a bare `NumberFormatException`. */
  def get[A](s: SparkSession, key: String)(parse: String => Option[A]): Option[A] =
    s.conf.getOption(key).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"$key has a malformed value '$v'")))
}
