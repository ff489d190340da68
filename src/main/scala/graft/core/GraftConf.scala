package graft.core

import org.apache.spark.sql.SparkSession

/** Shared reader for the engine's size-threshold knobs: a runtime-settable
  * Spark conf key overrides an environment variable overrides the default.
  * One implementation so precedence and parsing cannot drift between the
  * broadcast/build gates that use it. */
object GraftConf {
  def longKnob(spark: SparkSession, confKey: String, envKey: String,
      default: Long): Long =
    spark.conf.getOption(confKey).map(v => parse(confKey, v))
      .orElse(sys.env.get(envKey).map(v => parse(envKey, v)))
      .getOrElse(default)

  /** Fail fast WITH the offending key/value named: a typo'd knob (e.g.
    * `SPARK_GRAFT_BCAST_SEEN_MAX=4m`) must not surface as a bare
    * NumberFormatException mid-epoch with no hint which gate knob it came
    * from. */
  private def parse(key: String, value: String): Long =
    try value.trim.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft knob $key='$value' is not a long (plain digits only, no suffixes)")
    }
}
