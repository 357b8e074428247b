package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The md5 draw: the one hash contract behind the deterministic sketches,
  * samplers and hash orders of `sketch/`, `streaming/`, `text/`, `events/`
  * and `ml/`. A value is hashed as the lowercase md5 hex of its string
  * form, and a hex prefix of that digest is read as a number. Both steps
  * are plain SQL (`md5`, `substring`, base-16 parse), so an external engine
  * such as DuckDB replays every hash, draw and threshold bit for bit, which
  * Spark's xxhash64 does not allow. A prefix of at most 15 hex chars stays
  * inside a signed long. Each caller keeps its own salt expression: the
  * salt decides what a NULL id hashes to (`concat_ws` skips it, `concat`
  * turns the whole salt NULL). */
private[graft] object Md5Draw {

  /** 16^width = 2^(4·width), the value space of a `width`-hex-char prefix:
    * 2^32 at 8, 2^48 at 12, 2^60 at 15. Exact as a double. */
  def space(width: Int): Double = (1L << (4 * width)).toDouble

  /** md5 hex of `value`'s string form; NULL for a NULL value. */
  def of(value: Column): Column = ofString(value.cast("string"))

  /** md5 hex of a string expression, such as a salt built with `concat`.
    * No second string cast, so the analyzed plan is exactly the one the
    * caller wrote (cache lookup compares analyzed plans). */
  def ofString(s: Column): Column = md5(s.cast("binary"))

  /** Hex chars [off, off + width) of the md5 hex `h`, read as a long. */
  def prefix(h: Column, off: Int, width: Int): Column =
    conv(substring(h, off, width), 16, 10).cast("long")

  /** The uniform draw in [0, 1): `h`'s first `width` hex chars over
    * 16^width. */
  def uniform(h: Column, width: Int): Column = prefix(h, 1, width) / lit(space(width))
}
