package graft.tools

/** Section-safe writes to the shared evidence markdown (SCALING.md).
  *
  * Two tools own one "## …" section each (ScalingProbe's decade,
  * StreamBench's streaming throughput); the other sections, such as the
  * decision-probe tables, are hand-kept records. The original
  * truncate-at-my-marker-and-append logic meant re-running either tool
  * silently deleted every section after its own. Each writer
  * now REPLACES exactly its own section (marker up to the next "## "
  * heading) and leaves the rest of the document alone, so the tools are
  * idempotent and order-independent.
  */
object MdSections {

  /** `prev` with the section starting at the line `heading` (up to but not
    * including the next "\n## ") replaced by `section`; appended if the
    * heading is absent. `section` must itself start with the heading. */
  def upsert(prev: String, heading: String, section: String): String = {
    val sec = (if (section.startsWith("\n")) section else "\n" + section)
      .stripSuffix("\n") + "\n"
    val at =
      if (prev.startsWith(heading)) 0
      else {
        val i = prev.indexOf("\n" + heading)
        if (i < 0) -1 else i + 1
      }
    if (at < 0) prev.stripSuffix("\n") + "\n" + sec
    else {
      val next = prev.indexOf("\n## ", at + heading.length)
      val tail = if (next < 0) "" else prev.substring(next + 1)
      prev.substring(0, at).stripSuffix("\n") + "\n" + sec + tail
    }
  }

  /** `prev` with everything BEFORE the first "## " section replaced by
    * `head` (the document preamble + any tables the caller owns there);
    * all sections are preserved verbatim. */
  def replaceHead(prev: String, head: String): String = {
    val h = head.stripSuffix("\n") + "\n"
    val firstSec =
      if (prev.startsWith("## ")) 0
      else {
        val i = prev.indexOf("\n## ")
        if (i < 0) -1 else i + 1
      }
    if (firstSec < 0) h else h + prev.substring(firstSec)
  }
}
