package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.storage.StorageLevel

/** The persistence discipline of [[ops.Caches]]: no other library file
  * persists or checkpoints a DataFrame, and [[ops.Caches.release]] drops
  * exactly the calling thread's caches. The same source scan keeps the
  * library batch only.
  */
class CachesSpec extends SparkSuite {

  /** `src` with comments and string literals blanked out (newlines kept),
    * so backticked words in scaladoc and text in literals never count as
    * calls.
    */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(c: Char): Char = if (c == '\n') '\n' else ' '
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src.charAt(i) != '\n') { out += ' '; i += 1 }
      } else if (src.startsWith("/*", i)) {
        // Scala block comments nest
        var depth = 0
        do {
          if (src.startsWith("/*", i)) { depth += 1; out ++= "  "; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; out ++= "  "; i += 2 }
          else { out += blank(src.charAt(i)); i += 1 }
        } while (depth > 0 && i < src.length)
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        src.substring(i, stop).foreach(c => out += blank(c)); i = stop
      } else if (src.charAt(i) == '"') {
        out += ' '; i += 1
        while (i < src.length && src.charAt(i) != '"') {
          if (src.charAt(i) == '\\') { out += ' '; i += 1 }
          if (i < src.length) { out += blank(src.charAt(i)); i += 1 }
        }
        out += ' '; i += 1
      } else if (src.charAt(i) == '\'' && i + 2 < src.length &&
                 (src.charAt(i + 2) == '\'' || src.charAt(i + 1) == '\\')) {
        // a char literal such as '"', '\n' or '\''
        val stop = src.indexOf('\'', if (src.charAt(i + 1) == '\\') i + 3 else i + 2) + 1
        out ++= " " * (stop - i); i = stop
      } else { out += src.charAt(i); i += 1 }
    }
    out.toString
  }

  test("codeOnly drops comments and literals but keeps code") {
    val src = "a.persist() // b.persist()\n/** `c.cache()` /* nested */ d */ e\n" +
      "val s = \"f.cache()\"; val q = '\"'; g.cache()"
    val code = codeOnly(src)
    assert(code.length == src.length)
    assert(code.contains("a.persist()") && code.contains(" e\n") && code.contains("g.cache()"))
    Seq("b.persist", "c.cache", "nested", "d */", "f.cache").foreach(w => assert(!code.contains(w), w))
  }

  /** Every library source under `src/main/scala`, as (path relative to
    * it, [[codeOnly]] text).
    */
  private lazy val library: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.size > 100, s"expected the library sources under $root")
    files.map(f => root.relativize(f).toString.replace('\\', '/') ->
      codeOnly(new String(Files.readAllBytes(f), "UTF-8")))
  }

  /** `path:line: match (why)` for each match of `pattern` in a library
    * file other than `owner`.
    */
  private def offenders(pattern: Regex, owner: Option[String], why: String): Seq[String] =
    for {
      (path, code) <- library if !owner.contains(path)
      m <- pattern.findAllMatchIn(code)
    } yield s"$path:${code.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched} ($why)"

  test("only ops/Caches persists and only sources/Checkpoints checkpoints in src/main") {
    val found =
      // Caches.persist itself is the allowed call
      offenders("(?<!Caches)\\.persist\\(|\\.cache\\(\\)|\\bStorageLevel\\b".r,
        Some("graft/ops/Caches.scala"), "only graft/ops/Caches.scala may") ++
      offenders("\\.localCheckpoint\\(|\\.checkpoint\\(".r,
        Some("graft/sources/Checkpoints.scala"), "only graft/sources/Checkpoints.scala may")
    if (found.nonEmpty) fail(found.mkString("\n  ", "\n  ", ""))
  }

  test("src/main is batch only: no Structured Streaming source, sink, watermark or state") {
    val found = offenders(("\\b(readStream|writeStream|withWatermark|flatMapGroupsWithState|" +
      "mapGroupsWithState|foreachBatch|GroupState)\\b|\\borg\\.apache\\.spark\\.sql\\.streaming\\b").r,
      None, "graft is a batch engine")
    if (found.nonEmpty) fail(found.mkString("\n  ", "\n  ", ""))
  }

  test("release() drops only the calling thread's caches, and twice is a no-op") {
    import spark.implicits._
    val a = ops.Caches.persist(Seq(1L, 2L, 3L).toDF("a"))
    var b: org.apache.spark.sql.DataFrame = null
    val other = new Thread(() => { b = ops.Caches.persist(Seq(4L, 5L).toDF("b")); () })
    other.start(); other.join()
    try {
      assert(a.count() == 3 && b.count() == 2)
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
      ops.Caches.release()
      assert(a.storageLevel == StorageLevel.NONE)
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK, "another thread's cache was dropped")
      ops.Caches.release()
      assert(a.storageLevel == StorageLevel.NONE)
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally {
      // b's registration belongs to the finished thread; drop it here
      b.unpersist()
    }
  }
}
