package graft.parser

import scala.collection.concurrent.TrieMap

/**
 * `define` macros: user-registered templates expanded at parse time
 * (ref pkg/parser/define.go:12-70, config key `define:`). Supported
 * template placeholders (the subset graphite-web configs actually use):
 *
 *   {{.argString}}      the call's raw argument text
 *   {{index .args N}}   the N-th positional argument, printed canonically
 *   {{.kwargs.NAME}}    a named argument, printed canonically
 *
 * Expansion re-parses the substituted text and recurses, so macros can
 * reference other macros (cycles cut off at depth 16).
 */
object Defines {

  private val defs = TrieMap.empty[String, String]

  def define(name: String, template: String): Unit = defs.put(name, template)
  def clear(): Unit = defs.clear()
  def names: Set[String] = defs.keySet.toSet

  private val argIdx = """\{\{\s*index\s+\.args\s+(\d+)\s*\}\}""".r
  private val kwarg = """\{\{\s*\.kwargs\.(\w+)\s*\}\}""".r
  // Go text/template's other kwarg spelling: {{index .kwargs "key"}}
  private val kwargIdx = """\{\{\s*index\s+\.kwargs\s+"(\w+)"\s*\}\}""".r

  def expand(ast: Ast, depth: Int = 0): Ast = {
    if (depth > 16) return ast
    ast match {
      case fc: FuncCall if defs.contains(fc.name) =>
        expand(Parser.parse(substitute(defs(fc.name), fc.rawArgs, fc.args, fc.named)), depth + 1)
      case NameExpr(n) if defs.contains(n) =>
        expand(Parser.parse(substitute(defs(n), "", Seq.empty, Map.empty)), depth + 1)
      case fc @ FuncCall(name, args, named, raw) =>
        val newArgs = args.map(a => expand(a, depth + 1))
        val newNamed = named.map { case (k, v) => k -> expand(v, depth + 1) }
        // keep the original node (and its raw naming span) when nothing
        // expanded; a rewritten call can't trust the old source text
        if (newArgs == args && newNamed == named) fc
        else FuncCall(name, newArgs, newNamed)
      case other => other
    }
  }

  private def substitute(tpl: String, argString: String, args: Seq[Ast],
                         named: Map[String, Ast]): String = {
    val s1 = tpl.replace("{{.argString}}", argString)
    val s2 = argIdx.replaceAllIn(s1, m => {
      val i = m.group(1).toInt
      java.util.regex.Matcher.quoteReplacement(
        if (i < args.length) args(i).print else "")
    })
    val s3 = kwarg.replaceAllIn(s2, m =>
      java.util.regex.Matcher.quoteReplacement(
        named.get(m.group(1)).map(_.print).getOrElse("")))
    kwargIdx.replaceAllIn(s3, m =>
      java.util.regex.Matcher.quoteReplacement(
        named.get(m.group(1)).map(_.print).getOrElse("")))
  }
}
