package graft.core

import org.apache.spark.sql.internal.SQLConf

/** Typed reads of the `spark.graft.*` session confs. Unset keys give
  * the default; a malformed value fails with a [[UserException]] that
  * names the key and the value, not a bare NumberFormatException from
  * inside an operator or an optimizer rule.
  */
object GraftConf {

  def int(conf: SQLConf, key: String, default: Int): Int =
    read(conf, key, default, "an integer")(_.toInt)

  def long(conf: SQLConf, key: String, default: Long): Long =
    read(conf, key, default, "an integer")(_.toLong)

  def boolean(conf: SQLConf, key: String, default: Boolean): Boolean =
    read(conf, key, default, "true or false")(_.toBoolean)

  private def read[T](conf: SQLConf, key: String, default: T, expected: String)(
      parse: String => T): T =
    Option(conf.getConfString(key, null)).fold(default) { raw =>
      try parse(raw)
      catch {
        case _: IllegalArgumentException =>
          throw new UserException(s"$key must be $expected, got '$raw'")
      }
    }
}
