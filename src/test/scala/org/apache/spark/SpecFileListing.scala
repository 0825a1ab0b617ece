package org.apache.spark

/** Spark's own rule for the file and directory names its listing skips
  * (`_SUCCESS`, `.crc`, `.`/`_`-prefixed paths), for specs that check a
  * path is one Spark reads. */
object SpecFileListing {
  def hidden(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
