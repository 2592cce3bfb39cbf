package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles}

object Files {
  def requireEmpty(f: File): Unit = {
    val entries = Option(f.list()).map(_.length).getOrElse(0)
    require(!f.exists() || entries == 0, s"$f must be empty or absent at start")
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  def write(f: File, s: String): Unit = { f.getParentFile.mkdirs(); JFiles.write(f.toPath, s.getBytes(UTF_8)); () }
  def write(f: File, b: Array[Byte]): Unit = { f.getParentFile.mkdirs(); JFiles.write(f.toPath, b); () }
  def read(f: File): String = new String(JFiles.readAllBytes(f.toPath), UTF_8)

  /** Every regular file under `root`, sorted by relative path. */
  def list(root: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(root)
  }

  def bytesUnder(root: File): Long = list(root).map(_.length).sum

  /** Data files under `root` (Spark's hidden `_`/`.` markers excluded). */
  def dataFiles(root: File): Seq[File] =
    list(root).filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** SHA-256 over the relative paths and bytes of every file under `root`. */
  def digest(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = root.toPath
    list(root).filterNot(_.getName == "_planted").foreach { f =>
      md.update(base.relativize(f.toPath).toString.getBytes(UTF_8))
      md.update(JFiles.readAllBytes(f.toPath))
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** `dir` generated once: `gen` writes into a temp dir that is renamed
    * into place, so a cut-short generation is never reused. The planted
    * shares `gen` returns are stored beside the inputs.
    */
  def cached(dir: File)(gen: File => Map[String, Any]): (File, Map[String, String]) = {
    val planted = new File(dir, "_planted")
    if (!planted.exists()) {
      delete(dir)
      val tmp = new File(dir.getPath + s".tmp-${ProcessHandle.current().pid()}")
      delete(tmp); tmp.mkdirs()
      val p = gen(tmp)
      write(new File(tmp, "_planted"), p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))
      require(tmp.renameTo(dir), s"cannot publish generated inputs at $dir")
    }
    (dir, read(planted).linesIterator.filter(_.contains("=")).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v }.toMap)
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case (k: String, x) => render(Map(k -> x))
    case xs: Iterable[_] =>
      if (xs.forall(_.isInstanceOf[(_, _)]) && xs.nonEmpty)
        xs.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
      else xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
