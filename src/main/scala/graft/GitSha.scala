package graft

import java.nio.file.{Files, Paths}

/** Resolves the repo's current git HEAD so every generated artifact
  * (bench line, BENCH_DETAIL.json, Verify dump) can say which tree it
  * was produced from — round 8's judging burned time proving two
  * "failures" were stale artifacts from an older tree. Reads .git
  * directly (no subprocess; never throws). The default repo is the
  * working directory, the checkout a run was started from.
  */
object GitSha {
  def resolve(repo: String = sys.props("user.dir")): String =
    try {
      val head = new String(
        Files.readAllBytes(Paths.get(s"$repo/.git/HEAD")), "UTF-8").trim
      if (!head.startsWith("ref: ")) head
      else {
        val ref = head.drop(5)
        val loose = Paths.get(s"$repo/.git/$ref")
        if (Files.exists(loose))
          new String(Files.readAllBytes(loose), "UTF-8").trim
        else {
          val packed = Paths.get(s"$repo/.git/packed-refs")
          if (!Files.exists(packed)) "unknown"
          else new String(Files.readAllBytes(packed), "UTF-8")
            .linesIterator
            .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
            .map(_.split(" ")(0)).getOrElse("unknown")
        }
      }
    } catch { case _: Throwable => "unknown" }
}
