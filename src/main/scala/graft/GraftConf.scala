package graft

import org.apache.spark.sql.internal.SQLConf

/** The one reader for `spark.graft.*` settings. */
object GraftConf {

  /** The value of `key` in `conf` (a session's `sessionState.conf`, or
    * the `conf` a Catalyst rule sees) parsed by `parse`, or `None` when
    * unset. A value `parse` rejects fails with an error naming the key
    * and the value, never a bare `NumberFormatException`. */
  def get[A](conf: SQLConf, key: String)(parse: String => Option[A]): Option[A] =
    Option(conf.getConfString(key, null)).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"$key has a malformed value '$v'")))
}
