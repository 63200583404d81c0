package graft.js

/** AST + lexer + recursive-descent parser for the ES5 subset that backs
  * `jseval` (`/root/reference/container_files/public_html/doc/builtin/sql/
  * ValueExpression.md:779-839`, `builtin/js/js_function.cc:117-226`).
  *
  * The reference embeds V8; the JDK ships no JS engine, so this is a
  * small, dependency-free interpreter front end. Coverage targets the
  * constructs the reference's own tests and tutorials use: functions
  * (incl. recursion and closures), var, if/for/for-in/while/do/switch,
  * try/catch/throw, object/array/regex literals, the full operator
  * table, and automatic-semicolon insertion for the common layouts.
  */
object JsAst {

  sealed trait Expr
  final case class NumE(v: Double, decimal: Boolean) extends Expr
  final case class StrE(v: String) extends Expr
  final case class BoolE(v: Boolean) extends Expr
  case object NullE extends Expr
  case object UndefE extends Expr
  final case class RegexE(pattern: String, flags: String) extends Expr
  final case class IdentE(name: String) extends Expr
  final case class ArrE(elems: List[Expr]) extends Expr
  /** accessors: (propName, isGetter, function) for ES5 `get x() {}` /
    * `set x(v) {}` object-literal members. */
  final case class ObjE(fields: List[(String, Expr)],
      accessors: List[(String, Boolean, Expr)] = Nil) extends Expr
  final case class FuncE(name: Option[String], params: List[String],
      body: List[Stmt]) extends Expr
  final case class UnaryE(op: String, e: Expr, prefix: Boolean) extends Expr
  final case class BinE(op: String, l: Expr, r: Expr) extends Expr
  final case class LogicalE(op: String, l: Expr, r: Expr) extends Expr
  final case class AssignE(op: String, target: Expr, value: Expr) extends Expr
  final case class CondE(c: Expr, t: Expr, f: Expr) extends Expr
  final case class CallE(callee: Expr, args: List[Expr]) extends Expr
  final case class NewE(callee: Expr, args: List[Expr]) extends Expr
  final case class MemberE(obj: Expr, prop: Expr, computed: Boolean) extends Expr

  sealed trait Stmt
  final case class VarS(decls: List[(String, Option[Expr])]) extends Stmt
  final case class ExprS(e: Expr) extends Stmt
  final case class IfS(c: Expr, t: Stmt, f: Option[Stmt]) extends Stmt
  final case class ForS(init: Option[Stmt], test: Option[Expr],
      update: Option[Expr], body: Stmt) extends Stmt
  final case class ForInS(varName: String, obj: Expr, body: Stmt) extends Stmt
  final case class WhileS(c: Expr, body: Stmt) extends Stmt
  final case class DoWhileS(body: Stmt, c: Expr) extends Stmt
  final case class ReturnS(e: Option[Expr]) extends Stmt
  final case class BreakS(label: Option[String]) extends Stmt
  final case class ContinueS(label: Option[String]) extends Stmt
  final case class LabeledS(name: String, body: Stmt) extends Stmt
  final case class BlockS(stmts: List[Stmt]) extends Stmt
  final case class FuncDeclS(name: String, params: List[String],
      body: List[Stmt]) extends Stmt
  final case class ThrowS(e: Expr) extends Stmt
  final case class TryS(block: List[Stmt], catchParam: Option[String],
      catchBlock: Option[List[Stmt]], finallyBlock: Option[List[Stmt]]) extends Stmt
  final case class SwitchS(disc: Expr,
      cases: List[(Option[Expr], List[Stmt])]) extends Stmt
  case object EmptyS extends Stmt

  final class JsParseError(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------- lexer

  /** aux carries the regex-literal flags, keeping them out of `text`
    * (an in-band separator byte corrupted diffs and broke bodies that
    * contained the separator). */
  private final case class Tok(kind: String, text: String, line: Int,
      newlineBefore: Boolean, aux: String = "")

  private val keywords = Set("var", "function", "if", "else", "for", "in",
    "while", "do", "return", "break", "continue", "new", "typeof",
    "instanceof", "null", "undefined", "true", "false", "throw", "try",
    "catch", "finally", "switch", "case", "default", "delete", "void", "this",
    "let", "const")

  private val punct4 = Seq(">>>=")
  private val punct3 = Seq("===", "!==", ">>>", "<<=", ">>=")
  private val punct2 = Seq("==", "!=", "<=", ">=", "&&", "||", "++", "--",
    "+=", "-=", "*=", "/=", "%=", "<<", ">>", "&=", "|=", "^=", "=>")
  private val punct1 = "+-*/%=<>!&|^~?:;,.(){}[]"

  private def lex(src: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    var line = 1
    var sawNewline = false
    // tracks whether a `/` at the current position starts a regex literal
    // (after an operator / `(` / `,` / keyword) or a division (after a
    // value). The standard single-token-lookbehind heuristic.
    var prev: Tok = null
    def regexAllowed: Boolean = prev == null ||
      (prev.kind match {
        case "num" | "str" | "regex" => false
        case "ident" => false
        case "kw" => !Set("this", "null", "undefined", "true", "false")(prev.text)
        case "punct" => !Set(")", "]", "++", "--", "}")(prev.text)
        case _ => true
      })
    def push(kind: String, text: String, aux: String = ""): Unit = {
      val t = Tok(kind, text, line, sawNewline, aux)
      toks += t; prev = t; sawNewline = false
    }
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c == '\n') { line += 1; sawNewline = true; i += 1 }
      else if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) {
          if (src.charAt(i) == '\n') { line += 1; sawNewline = true }
          i += 1
        }
        i = math.min(i + 2, n)
      } else if (c == '/' && regexAllowed) {
        // regex literal: scan to the unescaped closing '/', honoring
        // character classes, then flags
        val start = i; i += 1
        var inClass = false
        var ok = false
        while (i < n && !ok) {
          val ch = src.charAt(i)
          if (ch == '\\') i += 2
          else if (ch == '[') { inClass = true; i += 1 }
          else if (ch == ']') { inClass = false; i += 1 }
          else if (ch == '/' && !inClass) { ok = true; i += 1 }
          else if (ch == '\n') throw new JsParseError(
            s"jseval: unterminated regex literal at line $line")
          else i += 1
        }
        if (!ok) throw new JsParseError(
          s"jseval: unterminated regex literal at line $line")
        val body = src.substring(start + 1, i - 1)
        val fs = i
        while (i < n && src.charAt(i).isLetter) i += 1
        push("regex", body, aux = src.substring(fs, i))
      } else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val start = i
        if (c == '0' && i + 1 < n && (src.charAt(i + 1) == 'x' || src.charAt(i + 1) == 'X')) {
          i += 2
          while (i < n && (src.charAt(i).isDigit || "abcdefABCDEF".indexOf(src.charAt(i)) >= 0)) i += 1
        } else {
          while (i < n && src.charAt(i).isDigit) i += 1
          if (i < n && src.charAt(i) == '.') { i += 1; while (i < n && src.charAt(i).isDigit) i += 1 }
          if (i < n && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
            i += 1
            if (i < n && (src.charAt(i) == '+' || src.charAt(i) == '-')) i += 1
            while (i < n && src.charAt(i).isDigit) i += 1
          }
        }
        push("num", src.substring(start, i))
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n && src.charAt(i + 1) == '\n') {
            // ES5 line continuation: backslash-newline contributes
            // nothing to the string (MLDB-980's inner script)
            line += 1; i += 2
          } else if (ch == '\\' && i + 1 < n) {
            val e = src.charAt(i + 1)
            sb.append(e match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case 'b' => '\b'; case 'f' => '\f'; case '0' => '\u0000'
              case 'u' if i + 5 < n =>
                val h = src.substring(i + 2, i + 6); i += 4
                Integer.parseInt(h, 16).toChar
              case 'x' if i + 3 < n =>
                val h = src.substring(i + 2, i + 4); i += 2
                Integer.parseInt(h, 16).toChar
              case other => other
            })
            i += 2
          } else if (ch == quote) { closed = true; i += 1 }
          else if (ch == '\n') throw new JsParseError(
            s"jseval: unterminated string at line $line")
          else { sb.append(ch); i += 1 }
        }
        if (!closed) throw new JsParseError(
          s"jseval: unterminated string at line $line")
        push("str", sb.toString)
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_' || src.charAt(i) == '$')) i += 1
        val word = src.substring(start, i)
        push(if (keywords(word)) "kw" else "ident", word)
      } else {
        val rest4 = if (i + 4 <= n) src.substring(i, i + 4) else ""
        val rest3 = if (i + 3 <= n) src.substring(i, i + 3) else ""
        val rest2 = if (i + 2 <= n) src.substring(i, i + 2) else ""
        if (punct4.contains(rest4)) { push("punct", rest4); i += 4 }
        else if (punct3.contains(rest3)) { push("punct", rest3); i += 3 }
        else if (punct2.contains(rest2)) { push("punct", rest2); i += 2 }
        else if (punct1.indexOf(c) >= 0) { push("punct", c.toString); i += 1 }
        else throw new JsParseError(
          s"jseval: unexpected character '$c' at line $line")
      }
    }
    toks += Tok("eof", "", line, sawNewline)
    toks.result()
  }

  // --------------------------------------------------------------- parser

  def parseProgram(src: String): List[Stmt] = new P(lex(src)).program()

  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    private def cur: Tok = toks(pos)
    private def at(kind: String, text: String): Boolean =
      cur.kind == kind && cur.text == text
    private def atPunct(t: String): Boolean = at("punct", t)
    private def atKw(t: String): Boolean = at("kw", t)
    private def advance(): Tok = { val t = cur; pos += 1; t }
    private def expect(kind: String, text: String): Tok = {
      if (!at(kind, text)) fail(s"expected '$text'")
      advance()
    }
    private def fail(msg: String): Nothing = throw new JsParseError(
      s"jseval: $msg but found '${if (cur.kind == "eof") "<end>" else cur.text}' at line ${cur.line}")

    def program(): List[Stmt] = {
      val out = List.newBuilder[Stmt]
      while (cur.kind != "eof") out += statement()
      out.result()
    }

    // optional semicolon: consume `;` if present; otherwise accept a
    // newline boundary, `}`, or EOF (the common ASI cases)
    private def endStmt(): Unit = {
      if (atPunct(";")) { advance(); () }
      else if (cur.kind == "eof" || atPunct("}") || cur.newlineBefore) ()
      else fail("expected ';'")
    }

    private def statement(): Stmt = {
      if (atPunct(";")) { advance(); EmptyS }
      else if (atPunct("{")) BlockS(block())
      else if (atKw("var") || atKw("let") || atKw("const")) { val s = varStmt(); endStmt(); s }
      else if (atKw("function")) {
        advance()
        val name = advanceIdent()
        val (ps, body) = funcRest()
        FuncDeclS(name, ps, body)
      }
      else if (atKw("if")) ifStmt()
      else if (atKw("for")) forStmt()
      else if (atKw("while")) { advance(); expect("punct", "("); val c = expression(); expect("punct", ")"); WhileS(c, statement()) }
      else if (atKw("do")) {
        advance(); val body = statement()
        if (!atKw("while")) fail("expected 'while'")
        advance(); expect("punct", "("); val c = expression(); expect("punct", ")")
        endStmt(); DoWhileS(body, c)
      }
      else if (atKw("return")) {
        advance()
        val e = if (atPunct(";") || atPunct("}") || cur.kind == "eof" || cur.newlineBefore) None
                else Some(expression())
        endStmt(); ReturnS(e)
      }
      else if (atKw("break")) {
        advance()
        val label = if (cur.kind == "ident" && !cur.newlineBefore)
          Some(advance().text) else None
        endStmt(); BreakS(label)
      }
      else if (atKw("continue")) {
        advance()
        val label = if (cur.kind == "ident" && !cur.newlineBefore)
          Some(advance().text) else None
        endStmt(); ContinueS(label)
      }
      else if (atKw("throw")) { advance(); val e = expression(); endStmt(); ThrowS(e) }
      else if (atKw("try")) tryStmt()
      else if (atKw("switch")) switchStmt()
      else if (cur.kind == "ident" && toks(pos + 1).kind == "punct" &&
          toks(pos + 1).text == ":") {
        val name = advance().text
        advance() // ':'
        LabeledS(name, statement())
      }
      else { val e = expression(); endStmt(); ExprS(e) }
    }

    private def advanceIdent(): String = {
      if (cur.kind != "ident") fail("expected identifier")
      advance().text
    }

    private def block(): List[Stmt] = {
      expect("punct", "{")
      val out = List.newBuilder[Stmt]
      while (!atPunct("}") && cur.kind != "eof") out += statement()
      expect("punct", "}")
      out.result()
    }

    private def varStmt(): Stmt = {
      advance() // var/let/const — all function-scoped here (ES5 semantics)
      val decls = List.newBuilder[(String, Option[Expr])]
      var more = true
      while (more) {
        val name = advanceIdent()
        val init = if (atPunct("=")) { advance(); Some(assignExpr()) } else None
        decls += ((name, init))
        if (atPunct(",")) advance() else more = false
      }
      VarS(decls.result())
    }

    private def ifStmt(): Stmt = {
      advance(); expect("punct", "(")
      val c = expression(); expect("punct", ")")
      val t = statement()
      val f = if (atKw("else")) { advance(); Some(statement()) } else None
      IfS(c, t, f)
    }

    private def forStmt(): Stmt = {
      advance(); expect("punct", "(")
      // for (var x in obj) | for (x in obj) | for (init; test; update)
      if (atKw("var") || atKw("let") || atKw("const")) {
        val save = pos
        advance()
        val name = advanceIdent()
        if (atKw("in")) {
          advance(); val obj = expression(); expect("punct", ")")
          ForInS(name, obj, statement())
        } else {
          pos = save
          val init = varStmt()
          expect("punct", ";")
          forTail(Some(init))
        }
      } else if (atPunct(";")) { advance(); forTail(None) }
      else {
        // ES5's NoIn grammar, resolved after the fact: expression()
        // consumes `in` as a binary operator, so a non-var for-in
        // surfaces as a top-level BinE("in", ident, obj) here.
        val first = expression()
        first match {
          case BinE("in", IdentE(name), obj) if atPunct(")") =>
            advance()
            ForInS(name, obj, statement())
          case _ =>
            expect("punct", ";")
            forTail(Some(ExprS(first)))
        }
      }
    }

    private def forTail(init: Option[Stmt]): Stmt = {
      val test = if (atPunct(";")) None else Some(expression())
      expect("punct", ";")
      val update = if (atPunct(")")) None else Some(expression())
      expect("punct", ")")
      ForS(init, test, update, statement())
    }

    private def tryStmt(): Stmt = {
      advance()
      val b = block()
      var catchParam: Option[String] = None
      var catchBlock: Option[List[Stmt]] = None
      var finallyBlock: Option[List[Stmt]] = None
      if (atKw("catch")) {
        advance()
        if (atPunct("(")) { advance(); catchParam = Some(advanceIdent()); expect("punct", ")") }
        catchBlock = Some(block())
      }
      if (atKw("finally")) { advance(); finallyBlock = Some(block()) }
      if (catchBlock.isEmpty && finallyBlock.isEmpty) fail("try needs catch or finally")
      TryS(b, catchParam, catchBlock, finallyBlock)
    }

    private def switchStmt(): Stmt = {
      advance(); expect("punct", "(")
      val disc = expression(); expect("punct", ")")
      expect("punct", "{")
      val cases = List.newBuilder[(Option[Expr], List[Stmt])]
      while (!atPunct("}") && cur.kind != "eof") {
        val label: Option[Expr] =
          if (atKw("case")) { advance(); val e = expression(); expect("punct", ":"); Some(e) }
          else if (atKw("default")) { advance(); expect("punct", ":"); None }
          else fail("expected 'case' or 'default'")
        val body = List.newBuilder[Stmt]
        while (!atKw("case") && !atKw("default") && !atPunct("}") && cur.kind != "eof")
          body += statement()
        cases += ((label, body.result()))
      }
      expect("punct", "}")
      SwitchS(disc, cases.result())
    }

    private def funcRest(): (List[String], List[Stmt]) = {
      expect("punct", "(")
      val ps = List.newBuilder[String]
      if (!atPunct(")")) {
        var more = true
        while (more) {
          ps += advanceIdent()
          if (atPunct(",")) advance() else more = false
        }
      }
      expect("punct", ")")
      (ps.result(), block())
    }

    // ------------------------------------------------------- expressions

    def expression(): Expr = {
      var e = assignExpr()
      while (atPunct(",")) { advance(); e = BinE(",", e, assignExpr()) }
      e
    }

    private def assignExpr(): Expr = {
      val left = condExpr()
      if (cur.kind == "punct" &&
          Set("=", "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=",
              "<<=", ">>=", ">>>=")(cur.text)) {
        val op = advance().text
        left match {
          case _: IdentE | _: MemberE => AssignE(op, left, assignExpr())
          case _ => fail("invalid assignment target")
        }
      } else left
    }

    private def condExpr(): Expr = {
      val c = binExpr(0)
      if (atPunct("?")) {
        advance(); val t = assignExpr(); expect("punct", ":")
        CondE(c, t, assignExpr())
      } else c
    }

    private val precedence: Map[String, Int] = Map(
      "||" -> 1, "&&" -> 2, "|" -> 3, "^" -> 4, "&" -> 5,
      "==" -> 6, "!=" -> 6, "===" -> 6, "!==" -> 6,
      "<" -> 7, ">" -> 7, "<=" -> 7, ">=" -> 7, "instanceof" -> 7, "in" -> 7,
      "<<" -> 8, ">>" -> 8, ">>>" -> 8,
      "+" -> 9, "-" -> 9,
      "*" -> 10, "/" -> 10, "%" -> 10)

    private def binExpr(minPrec: Int): Expr = {
      var left = unaryExpr()
      var go = true
      while (go) {
        val op =
          if (cur.kind == "punct" && precedence.contains(cur.text)) cur.text
          else if (atKw("instanceof")) "instanceof"
          else if (atKw("in")) "in"
          else ""
        if (op.nonEmpty && precedence(op) > minPrec) {
          advance()
          val right = binExpr(precedence(op))
          left = if (op == "&&" || op == "||") LogicalE(op, left, right)
                 else BinE(op, left, right)
        } else go = false
      }
      left
    }

    private def unaryExpr(): Expr = {
      if (cur.kind == "punct" && Set("!", "~", "+", "-", "++", "--")(cur.text)) {
        val op = advance().text
        UnaryE(op, unaryExpr(), prefix = true)
      } else if (atKw("typeof") || atKw("void") || atKw("delete")) {
        val op = advance().text
        UnaryE(op, unaryExpr(), prefix = true)
      } else if (atKw("new")) {
        advance()
        // new Callee(args) — member path allowed in callee
        var callee: Expr = primary()
        while (atPunct(".")) { advance(); callee = MemberE(callee, StrE(advanceIdent()), computed = false) }
        val args = if (atPunct("(")) callArgs() else Nil
        postfixOps(NewE(callee, args))
      } else postfixOps(primary())
    }

    private def callArgs(): List[Expr] = {
      expect("punct", "(")
      val args = List.newBuilder[Expr]
      if (!atPunct(")")) {
        var more = true
        while (more) {
          args += assignExpr()
          if (atPunct(",")) advance() else more = false
        }
      }
      expect("punct", ")")
      args.result()
    }

    private def postfixOps(base: Expr): Expr = {
      var e = base
      var go = true
      while (go) {
        if (atPunct(".")) {
          advance()
          val name = if (cur.kind == "ident" || cur.kind == "kw") advance().text
                     else fail("expected property name")
          e = MemberE(e, StrE(name), computed = false)
        } else if (atPunct("[")) {
          advance(); val idx = expression(); expect("punct", "]")
          e = MemberE(e, idx, computed = true)
        } else if (atPunct("(")) {
          e = CallE(e, callArgs())
        } else if ((atPunct("++") || atPunct("--")) && !cur.newlineBefore) {
          e = UnaryE(advance().text, e, prefix = false)
        } else go = false
      }
      e
    }

    private def primary(): Expr = {
      val t = cur
      if (t.kind == "num") {
        advance()
        val v = if (t.text.startsWith("0x") || t.text.startsWith("0X"))
          java.lang.Long.parseLong(t.text.substring(2), 16).toDouble
        else t.text.toDouble
        NumE(v, JsInterp.JsNum.decimal(t.text))
      }
      else if (t.kind == "str") { advance(); StrE(t.text) }
      else if (t.kind == "regex") {
        advance()
        RegexE(t.text, t.aux)
      }
      else if (t.kind == "ident") { advance(); IdentE(t.text) }
      else if (atKw("true")) { advance(); BoolE(true) }
      else if (atKw("false")) { advance(); BoolE(false) }
      else if (atKw("null")) { advance(); NullE }
      else if (atKw("undefined")) { advance(); UndefE }
      else if (atKw("this")) { advance(); IdentE("this") }
      else if (atKw("function")) {
        advance()
        val name = if (cur.kind == "ident") Some(advance().text) else None
        val (ps, body) = funcRest()
        FuncE(name, ps, body)
      }
      else if (atPunct("(")) { advance(); val e = expression(); expect("punct", ")"); e }
      else if (atPunct("[")) {
        advance()
        val elems = List.newBuilder[Expr]
        if (!atPunct("]")) {
          var more = true
          while (more) {
            elems += assignExpr()
            if (atPunct(",")) { advance(); if (atPunct("]")) more = false }
            else more = false
          }
        }
        expect("punct", "]")
        ArrE(elems.result())
      }
      else if (atPunct("{")) {
        advance()
        val fields = List.newBuilder[(String, Expr)]
        val accessors = List.newBuilder[(String, Boolean, Expr)]
        def propKey(): String = cur.kind match {
          case "ident" | "kw" => advance().text
          case "str" => advance().text
          case "num" => val x = advance().text
            // numeric keys normalize through the JS number→string rule
            val d = x.toDouble
            if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString
          case _ => fail("expected property key")
        }
        if (!atPunct("}")) {
          var more = true
          while (more) {
            // ES5 accessor: `get name() {...}` / `set name(v) {...}` —
            // only when `get`/`set` is NOT itself a key (`{get: 1}`)
            if (cur.kind == "ident" && (cur.text == "get" || cur.text == "set")
                && toks(pos + 1).kind != "punct") {
              val isGetter = advance().text == "get"
              val name = propKey()
              val (ps, body) = funcRest()
              accessors += ((name, isGetter, FuncE(None, ps, body)))
            } else {
              val key = propKey()
              expect("punct", ":")
              fields += ((key, assignExpr()))
            }
            if (atPunct(",")) { advance(); if (atPunct("}")) more = false }
            else more = false
          }
        }
        expect("punct", "}")
        ObjE(fields.result(), accessors.result())
      }
      else fail("expected expression")
    }
  }
}
