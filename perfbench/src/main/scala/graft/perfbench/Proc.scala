package graft.perfbench

/** Process-level counters from procfs (Linux). */
object Proc {
  private def field(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(key) =>
        l.substring(key.length).trim.split("\\s+")(0).toLong
    }.getOrElse(throw new IllegalStateException(s"no $key in $file"))
    finally src.close()
  }

  /** Peak resident set since the last [[resetPeakRss]], in MB. */
  def peakRssMb: Double = field("/proc/self/status", "VmHWM:") / 1024.0

  /** Restart the peak-RSS high-water mark, so the next reading covers
    * only what ran after this call.
    */
  def resetPeakRss(): Unit = {
    val w = new java.io.FileWriter("/proc/self/clear_refs")
    try w.write("5") finally w.close()
  }

  /** Bytes this process has passed to write calls so far. */
  def writtenBytes: Long = field("/proc/self/io", "wchar:")
}
