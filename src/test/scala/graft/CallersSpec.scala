package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds what runs: every public or `private[graft]` member of
  * `src/main` needs a use in `src/main` or `perfbench/src` outside its own
  * definition, or a line in README's "API without an in-repo caller"
  * section. The scan goes by name, over the source with comments stripped;
  * string literals count as uses (`Native` names its kernels by string).
  * `override`s, implicits, `main` and the objects that hold one are
  * exempt. */
class CallersSpec extends AnyFunSuite {
  import CallersSpec.Member

  private def scalaFiles(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (dir.getName.endsWith(".scala")) Seq(dir)
    else Nil

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)

  /** Splits Scala source into (text, code): `text` drops comments and
    * keeps string literals; `code` also blanks the literals' contents, so
    * a brace or keyword inside a string never reads as structure.
    * Interpolated `${...}` blocks are lexed as code. */
  private def lex(src: String): (String, String) = {
    val text = new StringBuilder
    val code = new StringBuilder
    var i = 0
    def at(k: Int): Char = if (i + k < src.length) src.charAt(i + k) else '\u0000'
    def starts(s: String): Boolean = src.startsWith(s, i)
    def put(c: Char, literal: Boolean): Unit = {
      text += c
      code += (if (literal && c != '\n') ' ' else c)
    }
    def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'

    def lexCode(untilBrace: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src.charAt(i)
        if (starts("//")) {
          while (i < src.length && src.charAt(i) != '\n') i += 1
        } else if (starts("/*")) {
          var d = 0
          do {
            if (starts("/*")) { d += 1; i += 2 }
            else if (starts("*/")) { d -= 1; i += 2 }
            else { if (src.charAt(i) == '\n') put('\n', literal = false); i += 1 }
          } while (d > 0 && i < src.length)
        } else if (c == '"') {
          lexString(interpolated = i > 0 && isIdent(src.charAt(i - 1)))
        } else if (c == '\'' && (at(2) == '\'' || at(1) == '\\')) {
          // char literal: 'x', '\n', 'A'
          val end = src.indexOf('\'', i + 2)
          (i to end).foreach(k => put(src.charAt(k), literal = k > i && k < end))
          i = end + 1
        } else {
          if (untilBrace) {
            if (c == '{') depth += 1
            else if (c == '}') { if (depth == 0) return; depth -= 1 }
          }
          put(c, literal = false)
          i += 1
        }
      }
    }

    def lexString(interpolated: Boolean): Unit = {
      val triple = starts("\"\"\"")
      val quotes = if (triple) 3 else 1
      (1 to quotes).foreach { _ => put('"', literal = false); i += 1 }
      def closed: Boolean =
        if (triple) starts("\"\"\"") else src.charAt(i) == '"' || src.charAt(i) == '\n'
      while (i < src.length && !closed) {
        val c = src.charAt(i)
        if (!triple && c == '\\') {
          put(c, literal = true); put(at(1), literal = true); i += 2
        } else if (interpolated && c == '$' && at(1) == '$') {
          put(c, literal = true); put(c, literal = true); i += 2
        } else if (interpolated && c == '$' && at(1) == '{') {
          put(c, literal = true); put('{', literal = true); i += 2
          lexCode(untilBrace = true)
          put('}', literal = true); i += 1
        } else {
          put(c, literal = true); i += 1
        }
      }
      if (triple) while (i < src.length && src.charAt(i) == '"') { put('"', literal = false); i += 1 }
      else if (i < src.length) { put(src.charAt(i), literal = false); i += 1 }
    }

    lexCode(untilBrace = false)
    (text.toString, code.toString)
  }

  private val Definition =
    ("""([{}()])|((?:(?:private|protected)(?:\[\w+\])?|override|implicit|final|lazy|""" +
      """case|sealed|abstract)\s+)*(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""").r

  /** Members: definitions whose every enclosing brace is a template body
    * (object, class or trait), public or `private[graft]`, not `override`
    * or `implicit`. Definitions inside parentheses (constructor and
    * parameter lists) are not members. Objects holding a `main` are
    * dropped with their `main`. */
  private def members(file: String, code: String): Seq[Member] = {
    // stack of open braces: Some(owner) for a template body, None for a block
    val stack = mutable.Stack.empty[Option[String]]
    var parens = 0
    var pendingTemplate: Option[String] = None
    val found = mutable.ArrayBuffer.empty[Member]
    val withMain = mutable.Set.empty[String]
    Definition.findAllMatchIn(code).foreach { m =>
      m.group(1) match {
        case "{" => stack.push(pendingTemplate); pendingTemplate = None
        case "}" => if (stack.nonEmpty) stack.pop()
        case "(" => parens += 1
        case ")" => parens = math.max(0, parens - 1)
        case _ if parens > 0 =>
        case _ =>
          val mods = m.matched.substring(0, m.start(3) - m.start)
          val kind = m.group(3)
          val name = m.group(4)
          val isMember = stack.forall(_.isDefined)
          pendingTemplate =
            if (Set("object", "class", "trait")(kind)) Some(name) else None
          if (isMember && kind == "def" && name == "main")
            stack.headOption.flatten.foreach(withMain += _)
          val visible = """(private|protected)(\[(\w+)\])?""".r.findFirstMatchIn(mods)
            .forall(_.group(3) == "graft")
          if (isMember && visible && !mods.contains("override") && !mods.contains("implicit"))
            found += Member(file, code.substring(0, m.start(3)).count(_ == '\n') + 1, kind, name)
      }
    }
    found.filterNot(d => d.name == "main" || (d.kind == "object" && withMain(d.name))).toSeq
  }

  /** Every name README's "API without an in-repo caller" section lists:
    * each identifier of each backticked dotted name in it. */
  private def readmeApi(): Set[String] = {
    val readme = read(new File("README.md"))
    val header = "## API without an in-repo caller"
    val start = readme.indexOf(header)
    assert(start >= 0, s"README.md has no '$header' section")
    val body = readme.substring(start + header.length)
    val end = body.indexOf("\n## ")
    val section = if (end < 0) body else body.substring(0, end)
    """`([A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)*)`""".r.findAllMatchIn(section)
      .flatMap(_.group(1).split('.')).toSet
  }

  /** The members of `mainFiles` with no use in `mainFiles ++ benchFiles`
    * beyond their definitions, by name. */
  private def uncalled(mainFiles: Seq[(String, String)],
                      benchFiles: Seq[(String, String)]): Seq[Member] = {
    val lexed = mainFiles.map { case (f, src) => f -> lex(src) }
    val defs = lexed.flatMap { case (f, (_, code)) => members(f, code) }
    val definedTimes = defs.groupBy(_.name).map { case (n, ds) => n -> ds.size }
    val uses = mutable.Map.empty[String, Int].withDefaultValue(0)
    (lexed.map(_._2._1) ++ benchFiles.map(f => lex(f._2)._1)).foreach { text =>
      """[A-Za-z_]\w*""".r.findAllIn(text).foreach(w => uses(w) += 1)
    }
    defs.filter(d => uses(d.name) <= definedTimes(d.name))
  }

  private def sources(dir: String): Seq[(String, String)] = {
    val files = scalaFiles(new File(dir))
    assert(files.nonEmpty, s"no Scala sources under $dir (run from the repo root)")
    files.map(f => f.getPath -> read(f))
  }

  test("every src/main member has a caller in src/main or perfbench/src, or is README API") {
    val api = readmeApi()
    val missing = uncalled(sources("src/main/scala"), sources("perfbench/src"))
      .filterNot(d => api(d.name))
    assert(missing.isEmpty,
      missing.map(d => s"${d.file}:${d.line} ${d.kind} ${d.name}").mkString(
        "members with no caller in src/main or perfbench/src; call them, delete them, " +
          "move test-only ones beside their specs, or list them in README's API section:\n",
        "\n", ""))
  }

  test("the scan sees through comments, strings and local definitions") {
    val main = Seq("A.scala" ->
      """object A {
        |  def used(): Int = 1
        |  def unused(): Int = helper() // unused() in a comment is no use
        |  /* nor here: unused() */
        |  private def helper(): Int = { val local = 2; local }
        |  private[graft] def kernel(x: Int): Int = x
        |  override def toString: String = s"${used()} {"
        |  val named = "kernel"
        |}
        |object Tool { def main(args: Array[String]): Unit = println(A.named) }
        |""".stripMargin)
    val bench = Seq("B.scala" -> "object B { val x = A.used() }")
    assert(uncalled(main, bench).map(_.name) === Seq("unused"))
  }
}

object CallersSpec {
  private final case class Member(file: String, line: Int, kind: String, name: String)
}
