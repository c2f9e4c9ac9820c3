package graft

import org.apache.spark.sql.SparkSession

/** Shared parsing for `graft.*` session-conf knobs. Every positive numeric
  * cap in the library reads its knob through [[positiveLong]] so a
  * malformed or whitespace-padded value fails with the SAME descriptive
  * error naming the key — not a bare NumberFormatException from inside an
  * operator. The bounds of the dual-path operators are constants, not
  * knobs; [[LocalPath]] reads their one switch, `graft.local.mode`. */
object GraftConf {

  /** Read `key` as a strictly positive Long, trimming whitespace;
    * `default` when unset. Throws IllegalArgumentException naming the key
    * on a non-numeric or non-positive value. */
  def positiveLong(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { s =>
      val v = try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$s'")
      }
      require(v > 0, s"$key must be > 0, got $v")
      v
    }.getOrElse(default)
}
