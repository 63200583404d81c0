package graft.js

import scala.collection.mutable

/** Tree-walking evaluator for the ES5 subset parsed by [[JsAst]].
  *
  * Backs the `jseval` builtin (reference:
  * `builtin/js/js_function.cc:117-226`, doc
  * `container_files/public_html/doc/builtin/sql/ValueExpression.md:779`).
  * The reference embeds V8; we interpret a small AST instead — the
  * contract is the language SUBSET the reference's docs and tutorials
  * exercise, not full ECMAScript:
  *   - functions (closures, recursion, hoisting), var/let/const
  *     (function-scoped), if/for/for-in/while/do/switch/try/throw,
  *   - number/string/bool/null/undefined/object/array/regex values with
  *     ES5 coercion rules (ToNumber/ToString/ToBoolean/ToInt32,
  *     abstract and strict equality, string-vs-numeric relationals),
  *   - Math / JSON / String / Array / Object.keys / RegExp / parseInt
  *     / parseFloat / isNaN / isFinite stdlib,
  *   - prototype chains (constructor functions, `new`, `instanceof`),
  *     getters/setters via Object.defineProperty, and a deterministic
  *     Date (fixed epoch unless constructed with arguments),
  *   - NOT: eval. Math.random is a per-evaluation seeded PRNG and
  *     Date.now is fixed, so results stay deterministic across runs.
  *
  * Every evaluation carries a step budget: a runaway script (e.g.
  * `while(true);` posted through the REST surface) raises a JsError
  * instead of pinning an executor core. Scale note: callers compile
  * (parse) once and re-evaluate per row; evaluation allocates only its
  * own environments, so a million-row map never re-parses.
  */
object JsInterp {

  // ------------------------------------------------------------- values

  sealed trait JsVal
  case object JsUndef extends JsVal
  case object JsNull extends JsVal
  final case class JsBool(b: Boolean) extends JsVal
  /** A number. `decimal` records that its literal was written with a
    * fraction or an exponent (`5.0`, `5e0`), which a recorded cell keeps
    * ([[graft.api.ProcJson.cell]]); equality ignores it. */
  final class JsNum(val v: Double, val decimal: Boolean) extends JsVal {
    override def equals(o: Any): Boolean = o match {
      case n: JsNum => v == n.v
      case _ => false
    }
    override def hashCode: Int = v.##
    override def toString: String = s"JsNum($v)"
  }
  object JsNum {
    def apply(v: Double): JsNum = new JsNum(v, false)
    def unapply(n: JsNum): Some[Double] = Some(n.v)
    /** Whether a number literal's text has a fraction or an exponent. */
    def decimal(text: String): Boolean =
      !text.startsWith("0x") && !text.startsWith("0X") &&
        text.exists(c => c == '.' || c == 'e' || c == 'E')
  }
  final case class JsStr(s: String) extends JsVal
  final class JsObjV(val fields: mutable.LinkedHashMap[String, JsVal])
      extends JsVal {
    /** [[Prototype]] link — set by `new F()` from F.prototype. Own
      * fields shadow it; JSON/stringify/for-in see own fields only
      * (enumerability of the chain is not modeled). */
    var proto: JsObjV = null
    /** ES5 accessors (own-object only): name → (getter, setter);
      * null when the literal declared none — the common case pays no
      * allocation. */
    var accessors: mutable.LinkedHashMap[String, (JsVal, JsVal)] = null
  }
  final class JsArrV(val elems: mutable.ArrayBuffer[JsVal]) extends JsVal
  final class JsFuncV(val name: String, val params: List[String],
      val body: List[JsAst.Stmt], val closure: Env) extends JsVal {
    /** F.prototype — pre-created so `F.prototype.m = function(){...}`
      * works like ES5; wholesale `F.prototype = {...}` replaces it. */
    var prototypeObj: JsObjV = new JsObjV(mutable.LinkedHashMap.empty)
  }
  final class JsNativeV(val name: String,
      val fn: (JsVal, List[JsVal]) => JsVal) extends JsVal
  final class JsRegexV(val source: String, val flags: String) extends JsVal {
    val global: Boolean = flags.contains('g')
    val pattern: java.util.regex.Pattern = {
      var f = 0
      if (flags.contains('i')) f |= java.util.regex.Pattern.CASE_INSENSITIVE
      if (flags.contains('m')) f |= java.util.regex.Pattern.MULTILINE
      try java.util.regex.Pattern.compile(source, f)
      catch {
        // catchable from JS, like V8's SyntaxError at regex creation
        case e: java.util.regex.PatternSyntaxException =>
          throw new JsError(JsStr(
            s"SyntaxError: invalid regular expression /$source/: " +
              e.getDescription))
      }
    }
  }

  /** A JS-level throw (including runtime TypeErrors we raise). */
  final class JsError(val value: JsVal) extends RuntimeException(
      toStr(value), null, false, false)

  // control flow — stackless exceptions, caught by the matching loop
  private final class BreakEx(val label: Option[String])
      extends RuntimeException(null, null, false, false)
  private final class ContinueEx(val label: Option[String])
      extends RuntimeException(null, null, false, false)
  private final class ReturnEx(val v: JsVal)
      extends RuntimeException(null, null, false, false)

  def error(msg: String): Nothing = throw new JsError(JsStr("jseval: " + msg))

  // ------------------------------------------------------------ scoping

  final class Env(val parent: Env) {
    private val vars = mutable.HashMap.empty[String, JsVal]
    def declare(name: String, v: JsVal): Unit = vars(name) = v
    def has(name: String): Boolean =
      vars.contains(name) || (parent != null && parent.has(name))
    def get(name: String): JsVal =
      vars.getOrElse(name,
        if (parent != null) parent.get(name)
        else error(s"'$name' is not defined"))
    def set(name: String, v: JsVal): Unit =
      if (vars.contains(name)) vars(name) = v
      else if (parent != null && parent.has(name)) parent.set(name, v)
      else vars(name) = v // implicit global, ES5 non-strict
  }

  // ---------------------------------------------------------- coercions

  def toBool(v: JsVal): Boolean = v match {
    case JsUndef | JsNull => false
    case JsBool(b) => b
    case JsNum(d) => d != 0 && !d.isNaN
    case JsStr(s) => s.nonEmpty
    case _ => true
  }

  def toNum(v: JsVal): Double = v match {
    case JsNum(d) => d
    case JsBool(b) => if (b) 1 else 0
    case JsNull => 0
    case JsUndef => Double.NaN
    case JsStr(s) =>
      val t = s.trim
      if (t.isEmpty) 0
      else if (t.startsWith("0x") || t.startsWith("0X"))
        try java.lang.Long.parseLong(t.substring(2), 16).toDouble
        catch { case _: NumberFormatException => Double.NaN }
      else
        try t.toDouble catch { case _: NumberFormatException => Double.NaN }
    case a: JsArrV =>
      if (a.elems.isEmpty) 0
      else if (a.elems.length == 1) toNum(a.elems.head)
      else Double.NaN
    case _ => Double.NaN
  }

  /** ES Number→String for the values that matter in practice: integral
    * doubles print without a decimal point (the big cross-engine trap —
    * Java would print "3.0"). Exotic exponent formatting may differ
    * from V8; keep hashed contracts on integral/rounded values. */
  def numToStr(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else if (d == 0) { if (1 / d < 0) "0" else "0" }
    else if (d == math.rint(d) && math.abs(d) < 1e21)
      new java.math.BigDecimal(d).toBigInteger.toString
    else {
      val s = java.lang.Double.toString(d)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
  }

  def toStr(v: JsVal): String = v match {
    case JsUndef => "undefined"
    case JsNull => "null"
    case JsBool(b) => b.toString
    case JsNum(d) => numToStr(d)
    case JsStr(s) => s
    case a: JsArrV =>
      a.elems.map {
        case JsUndef | JsNull => ""
        case e => toStr(e)
      }.mkString(",")
    case o: JsObjV => "[object Object]"
    case f: JsFuncV => s"function ${f.name}() { [code] }"
    case f: JsNativeV => s"function ${f.name}() { [native code] }"
    case r: JsRegexV => s"/${r.source}/${r.flags}"
  }

  def toInt32(v: JsVal): Int = {
    val d = toNum(v)
    if (d.isNaN || d.isInfinity) 0 else d.toLong.toInt
  }

  def toUint32(v: JsVal): Long = toInt32(v).toLong & 0xFFFFFFFFL

  private def toPrimitive(v: JsVal): JsVal = v match {
    case _: JsObjV | _: JsArrV | _: JsFuncV | _: JsNativeV | _: JsRegexV =>
      JsStr(toStr(v))
    case p => p
  }

  /** ES5 abstract equality (==) for the subset. */
  def looseEq(a: JsVal, b: JsVal): Boolean = (a, b) match {
    case (JsUndef | JsNull, JsUndef | JsNull) => true
    case (JsUndef | JsNull, _) | (_, JsUndef | JsNull) => false
    case (JsNum(x), JsNum(y)) => x == y
    case (JsStr(x), JsStr(y)) => x == y
    case (JsBool(x), JsBool(y)) => x == y
    case (JsNum(_), JsStr(_)) => toNum(a) == toNum(b)
    case (JsStr(_), JsNum(_)) => toNum(a) == toNum(b)
    case (JsBool(_), _) => looseEq(JsNum(toNum(a)), b)
    case (_, JsBool(_)) => looseEq(a, JsNum(toNum(b)))
    case (JsNum(_) | JsStr(_), _) => looseEq(a, toPrimitive(b))
    case (_, JsNum(_) | JsStr(_)) => looseEq(toPrimitive(a), b)
    case _ => a eq b
  }

  def strictEq(a: JsVal, b: JsVal): Boolean = (a, b) match {
    case (JsUndef, JsUndef) | (JsNull, JsNull) => true
    case (JsNum(x), JsNum(y)) => x == y
    case (JsStr(x), JsStr(y)) => x == y
    case (JsBool(x), JsBool(y)) => x == y
    case _ => a eq b
  }

  // --------------------------------------------------------- evaluation

  /** Parse once; evaluate many. `argNames`/`args` become locals of the
    * top-level scope; the program's `return` (or last expression
    * statement's value) is the result. */
  def compile(src: String): List[JsAst.Stmt] = JsAst.parseProgram(src)

  def run(program: List[JsAst.Stmt], argNames: Seq[String],
      args: Seq[JsVal], maxSteps: Long = 20000000L,
      extraGlobals: Map[String, JsVal] = Map.empty): JsVal = {
    val ev = new Evaluator(maxSteps)
    val global = ev.newGlobal()
    extraGlobals.foreach { case (n, v) => global.declare(n, v) }
    argNames.zipAll(args, "", JsUndef).foreach { case (n, v) =>
      if (n.nonEmpty) global.declare(n, v)
    }
    try {
      ev.hoist(program, global)
      // script completion value: the last VALUE-producing statement
      // wins (V8 script semantics — an `if` branch's expression
      // statement counts), so a trailing `x;`, with or without braces
      // around it, is the result when there is no explicit return.
      var last: JsVal = JsUndef
      program.foreach { s =>
        val v = ev.exec(s, global)
        if (v != JsUndef) last = v
      }
      last
    } catch {
      case r: ReturnEx => r.v
    }
  }

  def eval(src: String, argNames: Seq[String] = Nil,
      args: Seq[JsVal] = Nil): JsVal = run(compile(src), argNames, args)

  /** Invoke a captured JS function value from host code — the plugin
    * request-handler path (`builtin/js/js_plugin_loader.cc`
    * setRequestHandler): the plugin script runs once at registration
    * and returns its handler, which the REST layer calls per request.
    * The closure keeps its defining environment; each call gets a
    * fresh step budget. */
  def callFunctionValue(f: JsVal, args: Seq[JsVal],
      maxSteps: Long = 20000000L): JsVal = {
    val ev = new Evaluator(maxSteps)
    try ev.callValue(f, JsUndef, args.toList, "request handler")
    catch { case r: ReturnEx => r.v }
  }

  private final class Evaluator(maxSteps: Long) {
    import JsAst._
    private var steps = 0L
    private var rngState = 0x9E3779B97F4A7C15L // deterministic Math.random
    private def tick(): Unit = {
      steps += 1
      if (steps > maxSteps) error("script exceeded its step budget")
    }

    // ------------------------------------------------------ statements

    def hoist(stmts: List[Stmt], env: Env): Unit = stmts.foreach {
      case VarS(ds) => ds.foreach { case (n, _) =>
        if (!env.has(n)) env.declare(n, JsUndef) }
      case FuncDeclS(name, ps, body) =>
        env.declare(name, new JsFuncV(name, ps, body, env))
      case IfS(_, t, f) => hoist(List(t), env); f.foreach(s => hoist(List(s), env))
      case ForS(i, _, _, b) => i.foreach(s => hoist(List(s), env)); hoist(List(b), env)
      case ForInS(n, _, b) =>
        if (!env.has(n)) env.declare(n, JsUndef); hoist(List(b), env)
      case WhileS(_, b) => hoist(List(b), env)
      case DoWhileS(b, _) => hoist(List(b), env)
      case BlockS(ss) => hoist(ss, env)
      case TryS(b, p, c, f) =>
        hoist(b, env); c.foreach(hoist(_, env)); f.foreach(hoist(_, env))
      case SwitchS(_, cs) => cs.foreach { case (_, ss) => hoist(ss, env) }
      case LabeledS(_, b) => hoist(List(b), env)
      case _ => ()
    }

    /** Executes a statement and returns its COMPLETION VALUE (the ES
      * notion V8 uses for a script's result): expression statements
      * produce their value, declarations produce "empty" (JsUndef
      * here), and compound statements propagate the last non-empty
      * value of whatever ran inside them. */
    def exec(s: Stmt, env: Env): JsVal = { tick(); s match {
      case ExprS(e) => eval(e, env)
      case VarS(ds) =>
        ds.foreach {
          case (n, Some(init)) => env.set(n, eval(init, env))
          case (n, None) => if (!env.has(n)) env.declare(n, JsUndef)
        }
        JsUndef
      case IfS(c, t, f) =>
        if (toBool(eval(c, env))) exec(t, env)
        else f.fold[JsVal](JsUndef)(exec(_, env))
      case BlockS(ss) => execAll(ss, env)
      case EmptyS => JsUndef
      case FuncDeclS(_, _, _) => JsUndef // hoisted
      case WhileS(c, b) =>
        val myLabel = takeLabel()
        var last: JsVal = JsUndef
        try while (toBool(eval(c, env))) {
          try {
            val v = exec(b, env)
            if (v != JsUndef) last = v
          } catch { case ce: ContinueEx if forMe(ce.label, myLabel) => () }
        } catch { case be: BreakEx if forMe(be.label, myLabel) => () }
        last
      case DoWhileS(b, c) =>
        val myLabel = takeLabel()
        var last: JsVal = JsUndef
        try {
          var go = true
          while (go) {
            try {
              val v = exec(b, env)
              if (v != JsUndef) last = v
            } catch { case ce: ContinueEx if forMe(ce.label, myLabel) => () }
            go = toBool(eval(c, env))
          }
        } catch { case be: BreakEx if forMe(be.label, myLabel) => () }
        last
      case ForS(init, test, update, b) =>
        val myLabel = takeLabel()
        init.foreach(exec(_, env))
        var last: JsVal = JsUndef
        try while (test.forall(t => toBool(eval(t, env)))) {
          try {
            val v = exec(b, env)
            if (v != JsUndef) last = v
          } catch { case ce: ContinueEx if forMe(ce.label, myLabel) => () }
          update.foreach(eval(_, env))
        } catch { case be: BreakEx if forMe(be.label, myLabel) => () }
        last
      case ForInS(name, objE, b) =>
        val myLabel = takeLabel()
        val keys: Seq[String] = eval(objE, env) match {
          case o: JsObjV => o.fields.keys.toSeq
          case a: JsArrV => a.elems.indices.map(_.toString)
          case JsStr(s) => s.indices.map(_.toString)
          case _ => Nil
        }
        var last: JsVal = JsUndef
        try keys.foreach { k =>
          env.set(name, JsStr(k))
          try {
            val v = exec(b, env)
            if (v != JsUndef) last = v
          } catch { case ce: ContinueEx if forMe(ce.label, myLabel) => () }
        } catch { case be: BreakEx if forMe(be.label, myLabel) => () }
        last
      case LabeledS(n, body) =>
        // the label attaches to a directly-following loop (so
        // `continue n` / `break n` resolve there); for a non-loop
        // body, `break n` is caught here
        pendingLabel = n
        try exec(body, env)
        catch { case be: BreakEx if be.label.contains(n) => JsUndef }
        finally pendingLabel = null
      case ReturnS(e) => throw new ReturnEx(e.fold[JsVal](JsUndef)(eval(_, env)))
      case BreakS(l) => throw new BreakEx(l)
      case ContinueS(l) => throw new ContinueEx(l)
      case ThrowS(e) => throw new JsError(eval(e, env))
      case TryS(blk, catchParam, catchBlock, finallyBlock) =>
        try {
          try execAll(blk, env)
          catch {
            case je: JsError if catchBlock.isDefined =>
              val cenv = new Env(env)
              catchParam.foreach(p => cenv.declare(p, je.value))
              execAll(catchBlock.get, cenv)
          }
        } finally finallyBlock.foreach(execAll(_, env))
      case SwitchS(disc, cases) =>
        val d = eval(disc, env)
        var last: JsVal = JsUndef
        try {
          var matched = false
          // first pass: case labels; second: default fallthrough entry
          cases.foreach { case (label, body) =>
            if (!matched) label match {
              case Some(l) if strictEq(d, eval(l, env)) => matched = true
              case _ => ()
            }
            if (matched) {
              val v = execAll(body, env)
              if (v != JsUndef) last = v
            }
          }
          if (!matched) {
            var inDefault = false
            cases.foreach { case (label, body) =>
              if (label.isEmpty) inDefault = true
              if (inDefault) {
                val v = execAll(body, env)
                if (v != JsUndef) last = v
              }
            }
          }
        } catch { case be: BreakEx if be.label.isEmpty => () }
        last
    } }

    // label plumbing: LabeledS leaves its name here for the directly
    // following loop to claim as its own
    private var pendingLabel: String = null
    private def takeLabel(): String = {
      val l = pendingLabel; pendingLabel = null; l
    }
    private def forMe(l: Option[String], myLabel: String): Boolean =
      l.isEmpty || (myLabel != null && l.contains(myLabel))

    private def execAll(ss: List[Stmt], env: Env): JsVal = {
      var last: JsVal = JsUndef
      ss.foreach { s =>
        val v = exec(s, env)
        if (v != JsUndef) last = v
      }
      last
    }

    // ----------------------------------------------------- expressions

    def eval(e: Expr, env: Env): JsVal = { tick(); e match {
      case NumE(v, decimal) => new JsNum(v, decimal)
      case StrE(v) => JsStr(v)
      case BoolE(v) => JsBool(v)
      case NullE => JsNull
      case UndefE => JsUndef
      case RegexE(p, f) => new JsRegexV(p, f)
      case IdentE("this") => if (env.has("this")) env.get("this") else JsUndef
      case IdentE(name) =>
        if (env.has(name)) env.get(name) else error(s"'$name' is not defined")
      case ArrE(elems) =>
        new JsArrV(mutable.ArrayBuffer.from(elems.map(eval(_, env))))
      case ObjE(fields, accessors) =>
        val m = mutable.LinkedHashMap.empty[String, JsVal]
        fields.foreach { case (k, v) => m(k) = eval(v, env) }
        val o = new JsObjV(m)
        if (accessors.nonEmpty) {
          o.accessors = mutable.LinkedHashMap.empty
          accessors.foreach { case (name, isGetter, fe) =>
            val f = eval(fe, env)
            val (g0, s0) = o.accessors.getOrElse(name, (null, null))
            o.accessors(name) = if (isGetter) (f, s0) else (g0, f)
          }
        }
        o
      case FuncE(name, ps, body) =>
        val f = new JsFuncV(name.getOrElse(""), ps, body, env)
        // named function expressions can self-reference
        name.foreach { n =>
          val selfEnv = new Env(env)
          selfEnv.declare(n, f)
          return new JsFuncV(n, ps, body, selfEnv)
        }
        f
      case CondE(c, t, f) =>
        if (toBool(eval(c, env))) eval(t, env) else eval(f, env)
      case LogicalE("&&", l, r) =>
        val lv = eval(l, env); if (!toBool(lv)) lv else eval(r, env)
      case LogicalE("||", l, r) =>
        val lv = eval(l, env); if (toBool(lv)) lv else eval(r, env)
      case LogicalE(op, _, _) => error(s"unknown logical operator '$op'")
      case BinE(",", l, r) => eval(l, env); eval(r, env)
      case BinE(op, l, r) => binOp(op, eval(l, env), eval(r, env))
      case UnaryE(op, target, prefix) => unary(op, target, prefix, env)
      case AssignE(op, target, valueE) =>
        val rhs0 = eval(valueE, env)
        val rhs = if (op == "=") rhs0
          else binOp(op.dropRight(1), readRef(target, env), rhs0)
        writeRef(target, rhs, env)
        rhs
      case CallE(MemberE(objE, propE, computed), args) =>
        val obj = eval(objE, env)
        val prop = if (computed) toStr(eval(propE, env))
          else propE.asInstanceOf[StrE].v
        val f = member(obj, prop)
        callValue(f, obj, args.map(eval(_, env)), prop)
      case CallE(callee, args) =>
        val f = eval(callee, env)
        callValue(f, JsUndef, args.map(eval(_, env)), describe(callee))
      case NewE(callee, args) =>
        val f = eval(callee, env)
        construct(f, args.map(eval(_, env)))
      case MemberE(objE, propE, computed) =>
        val obj = eval(objE, env)
        val prop = if (computed) toStr(eval(propE, env))
          else propE.asInstanceOf[StrE].v
        member(obj, prop)
    } }

    private def describe(e: Expr): String = e match {
      case IdentE(n) => n
      case _ => "<expression>"
    }

    private def readRef(target: Expr, env: Env): JsVal = target match {
      case IdentE(n) => if (env.has(n)) env.get(n) else JsUndef
      case m: MemberE => eval(m, env)
      case _ => error("invalid assignment target")
    }

    private def writeRef(target: Expr, v: JsVal, env: Env): Unit =
      target match {
        case IdentE(n) => env.set(n, v)
        case MemberE(objE, propE, computed) =>
          val obj = eval(objE, env)
          val prop = if (computed) toStr(eval(propE, env))
            else propE.asInstanceOf[JsAst.StrE].v
          obj match {
            case o: JsObjV
                if o.accessors != null && o.accessors.contains(prop) =>
              o.accessors(prop) match {
                case (_, s) if s != null =>
                  callValue(s, o, List(v), prop); ()
                case _ => () // getter-only: silent no-op (non-strict ES5)
              }
            case o: JsObjV => o.fields(prop) = v
            case f: JsFuncV if prop == "prototype" => v match {
              case p: JsObjV => f.prototypeObj = p
              case _ => error("prototype must be an object")
            }
            case a: JsArrV =>
              if (prop == "length") {
                val n = toNum(v).toInt
                if (n < a.elems.length) a.elems.takeInPlace(n)
                else while (a.elems.length < n) a.elems += JsUndef
              } else prop.toIntOption match {
                case Some(i) if i >= 0 =>
                  while (a.elems.length <= i) a.elems += JsUndef
                  a.elems(i) = v
                case _ => error(s"cannot set '$prop' on array")
              }
            case _ => error(s"cannot set property '$prop' on ${typeOf(obj)}")
          }
        case _ => error("invalid assignment target")
      }

    private def unary(op: String, target: JsAst.Expr, prefix: Boolean,
        env: Env): JsVal = op match {
      case "!" => JsBool(!toBool(eval(target, env)))
      case "~" => JsNum((~toInt32(eval(target, env))).toDouble)
      case "+" => JsNum(toNum(eval(target, env)))
      case "-" => JsNum(-toNum(eval(target, env)))
      case "typeof" => JsStr(target match {
        case JsAst.IdentE(n) if !env.has(n) => "undefined"
        case _ => typeOf(eval(target, env))
      })
      case "void" => eval(target, env); JsUndef
      case "delete" => target match {
        case JsAst.MemberE(objE, propE, computed) =>
          val obj = eval(objE, env)
          val prop = if (computed) toStr(eval(propE, env))
            else propE.asInstanceOf[JsAst.StrE].v
          obj match {
            case o: JsObjV => JsBool(o.fields.remove(prop).isDefined)
            case a: JsArrV => prop.toIntOption match {
              case Some(i) if i >= 0 && i < a.elems.length =>
                a.elems(i) = JsUndef; JsBool(true)
              case _ => JsBool(true)
            }
            case _ => JsBool(true)
          }
        case _ => JsBool(true)
      }
      case "++" | "--" =>
        val old = toNum(readRef(target, env))
        val nv = if (op == "++") old + 1 else old - 1
        writeRef(target, JsNum(nv), env)
        JsNum(if (prefix) nv else old)
      case other => error(s"unknown unary operator '$other'")
    }

    private def typeOf(v: JsVal): String = v match {
      case JsUndef => "undefined"
      case JsNull => "object"
      case _: JsBool => "boolean"
      case _: JsNum => "number"
      case _: JsStr => "string"
      case _: JsFuncV | _: JsNativeV => "function"
      case _ => "object"
    }

    private def binOp(op: String, a: JsVal, b: JsVal): JsVal = op match {
      case "+" =>
        (toPrimitive(a), toPrimitive(b)) match {
          case (JsStr(x), y) => JsStr(x + toStr(y))
          case (x, JsStr(y)) => JsStr(toStr(x) + y)
          case (x, y) => JsNum(toNum(x) + toNum(y))
        }
      case "-" => JsNum(toNum(a) - toNum(b))
      case "*" => JsNum(toNum(a) * toNum(b))
      case "/" => JsNum(toNum(a) / toNum(b))
      case "%" => JsNum(toNum(a) % toNum(b))
      case "<" | ">" | "<=" | ">=" =>
        val cmp: Option[Int] = (toPrimitive(a), toPrimitive(b)) match {
          case (JsStr(x), JsStr(y)) => Some(x.compareTo(y))
          case (x, y) =>
            val (dx, dy) = (toNum(x), toNum(y))
            if (dx.isNaN || dy.isNaN) None else Some(dx.compareTo(dy))
        }
        JsBool(cmp.exists(c => op match {
          case "<" => c < 0; case ">" => c > 0
          case "<=" => c <= 0; case _ => c >= 0
        }))
      case "==" => JsBool(looseEq(a, b))
      case "!=" => JsBool(!looseEq(a, b))
      case "===" => JsBool(strictEq(a, b))
      case "!==" => JsBool(!strictEq(a, b))
      case "&" => JsNum((toInt32(a) & toInt32(b)).toDouble)
      case "|" => JsNum((toInt32(a) | toInt32(b)).toDouble)
      case "^" => JsNum((toInt32(a) ^ toInt32(b)).toDouble)
      case "<<" => JsNum((toInt32(a) << (toInt32(b) & 31)).toDouble)
      case ">>" => JsNum((toInt32(a) >> (toInt32(b) & 31)).toDouble)
      case ">>>" => JsNum((toUint32(a) >>> (toInt32(b) & 31)).toDouble)
      case "in" => b match {
        case o: JsObjV => JsBool(o.fields.contains(toStr(a)))
        case arr: JsArrV =>
          val k = toStr(a)
          JsBool(k == "length" ||
            k.toIntOption.exists(i => i >= 0 && i < arr.elems.length))
        case _ => error("'in' needs an object operand")
      }
      case "instanceof" => (a, b) match {
        case (o: JsObjV, f: JsFuncV) =>
          var p = o.proto
          var hit = false
          while (p != null && !hit) { hit = p eq f.prototypeObj; p = p.proto }
          JsBool(hit)
        case (_: JsArrV, n: JsNativeV) => JsBool(n.name == "Array")
        case (_: JsObjV, n: JsNativeV) =>
          JsBool(n.name == "Object" ||
            (n.name == "Error" && (a match {
              case o: JsObjV => o.fields.get("__isError").contains(JsBool(true))
              case _ => false
            })))
        case (_: JsRegexV, n: JsNativeV) => JsBool(n.name == "RegExp")
        case (_: JsFuncV, n: JsNativeV) => JsBool(n.name == "Function")
        case _ => JsBool(false)
      }
      case other => error(s"unknown operator '$other'")
    }

    // ------------------------------------------------------------ calls

    def callValue(f: JsVal, thisV: JsVal, args: List[JsVal],
        what: String): JsVal = f match {
      case fn: JsNativeV => fn.fn(thisV, args)
      case fn: JsFuncV =>
        val env = new Env(fn.closure)
        env.declare("this", thisV)
        fn.params.zipWithIndex.foreach { case (p, i) =>
          env.declare(p, if (i < args.length) args(i) else JsUndef)
        }
        env.declare("arguments", new JsArrV(mutable.ArrayBuffer.from(args)))
        hoist(fn.body, env)
        try { fn.body.foreach(exec(_, env)); JsUndef }
        catch { case r: ReturnEx => r.v }
      case _ => error(s"'$what' is not a function")
    }

    private def construct(f: JsVal, args: List[JsVal]): JsVal = f match {
      case n: JsNativeV if constructors.contains(n.name) =>
        constructors(n.name)(args)
      case fn: JsFuncV =>
        val self = new JsObjV(mutable.LinkedHashMap.empty)
        self.proto = fn.prototypeObj
        callValue(fn, self, args, fn.name) match {
          case o: JsObjV => o
          case a: JsArrV => a
          case _ => self
        }
      case _ => error("not a constructor")
    }

    private val constructors: Map[String, List[JsVal] => JsVal] = Map(
      "Array" -> { args =>
        args match {
          case JsNum(n) :: Nil if n == math.rint(n) && n >= 0 =>
            new JsArrV(mutable.ArrayBuffer.fill(n.toInt)(JsUndef: JsVal))
          case _ => new JsArrV(mutable.ArrayBuffer.from(args))
        }
      },
      "Object" -> { _ => new JsObjV(mutable.LinkedHashMap.empty) },
      "RegExp" -> { args =>
        new JsRegexV(args.headOption.map(toStr).getOrElse(""),
          args.drop(1).headOption.map(toStr).getOrElse(""))
      },
      "Error" -> { args =>
        val o = new JsObjV(mutable.LinkedHashMap.empty)
        o.fields("message") = JsStr(args.headOption.map(toStr).getOrElse(""))
        o.fields("__isError") = JsBool(true)
        o
      },
      "Date" -> { args =>
        // Deterministic subset: an explicit instant is required —
        // epoch millis or an ISO-8601 string. (No-arg `new Date()`
        // would read the wall clock and make results irreproducible;
        // it throws instead. Timestamp columns arrive as epoch ms.)
        val ms: Double = args match {
          case JsNum(d) :: Nil => d
          case JsStr(s) :: Nil =>
            try java.time.Instant.parse(
              if (s.contains("T")) (if (s.endsWith("Z") || s.contains("+"))
                s else s + "Z")
              else s.replace(' ', 'T') + (if (s.length == 10) "T00:00:00Z"
                else "Z")).toEpochMilli.toDouble
            catch { case _: Exception => Double.NaN }
          case Nil => error(
            "new Date() without an argument is non-deterministic; " +
              "pass epoch millis or an ISO-8601 string")
          case _ => Double.NaN
        }
        val o = new JsObjV(mutable.LinkedHashMap.empty)
        o.fields("__ms") = JsNum(ms)
        def at = java.time.Instant.ofEpochMilli(ms.toLong)
          .atZone(java.time.ZoneOffset.UTC)
        def nfn(name: String)(f: => Double): Unit =
          o.fields(name) = new JsNativeV(name, (_, _) =>
            if (ms.isNaN) JsNum(Double.NaN) else JsNum(f))
        nfn("getTime")(ms)
        nfn("valueOf")(ms)
        nfn("getUTCFullYear")(at.getYear.toDouble)
        nfn("getUTCMonth")(at.getMonthValue.toDouble - 1)
        nfn("getUTCDate")(at.getDayOfMonth.toDouble)
        nfn("getUTCDay")(at.getDayOfWeek.getValue % 7)
        nfn("getUTCHours")(at.getHour.toDouble)
        nfn("getUTCMinutes")(at.getMinute.toDouble)
        nfn("getUTCSeconds")(at.getSecond.toDouble)
        nfn("getUTCMilliseconds")(((ms.toLong % 1000 + 1000) % 1000).toDouble)
        o.fields("toISOString") = new JsNativeV("toISOString", (_, _) =>
          if (ms.isNaN) error("toISOString on Invalid Date")
          else JsStr(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            .format(at)))
        o
      },
      "String" -> { args => JsStr(args.headOption.map(toStr).getOrElse("")) },
      "Number" -> { args =>
        JsNum(args.headOption.map(toNum).getOrElse(0d)) },
      "Boolean" -> { args =>
        JsBool(args.headOption.exists(toBool)) })

    // ------------------------------------------------------- properties

    private def member(obj: JsVal, prop: String): JsVal = obj match {
      // statics on the global constructors (native values cannot carry
      // fields, so Object.keys / Array.isArray / String.fromCharCode
      // dispatch here by constructor name)
      case n: JsNativeV if n.name == "Object" && prop == "keys" =>
        native("keys") { (_, as) =>
          as.headOption match {
            case Some(o: JsObjV) => new JsArrV(
              mutable.ArrayBuffer.from(o.fields.keys.map(JsStr(_): JsVal)))
            case Some(a: JsArrV) => new JsArrV(mutable.ArrayBuffer.from(
              a.elems.indices.map(i => JsStr(i.toString): JsVal)))
            case _ => new JsArrV(mutable.ArrayBuffer.empty)
          } }
      case n: JsNativeV if n.name == "Object" && prop == "values" =>
        native("values") { (_, as) =>
          as.headOption match {
            case Some(o: JsObjV) =>
              new JsArrV(mutable.ArrayBuffer.from(o.fields.values))
            case Some(a: JsArrV) => new JsArrV(a.elems.clone())
            case _ => new JsArrV(mutable.ArrayBuffer.empty)
          } }
      case n: JsNativeV if n.name == "Array" && prop == "isArray" =>
        native("isArray")((_, as) =>
          JsBool(as.headOption.exists(_.isInstanceOf[JsArrV])))
      case n: JsNativeV if n.name == "String" && prop == "fromCharCode" =>
        native("fromCharCode")((_, as) =>
          JsStr(as.map(a => toNum(a).toInt.toChar).mkString))
      case n: JsNativeV if n.name == "Date" && prop == "now" =>
        native("now")((_, _) => error(
          "Date.now() is non-deterministic; pass timestamps in as data"))
      case o: JsObjV if o.accessors != null && o.accessors.contains(prop) =>
        o.accessors(prop) match {
          case (g, _) if g != null => callValue(g, o, Nil, prop)
          case _ => JsUndef // setter-only property reads as undefined
        }
      case o: JsObjV =>
        o.fields.getOrElse(prop, {
          // walk the [[Prototype]] chain before builtin fallbacks
          var p = o.proto
          var found: JsVal = null
          while (p != null && found == null) {
            found = p.fields.getOrElse(prop, null)
            p = p.proto
          }
          if (found != null) found
          else prop match {
            case "hasOwnProperty" => native("hasOwnProperty") { (t, as) =>
              JsBool(t.asInstanceOf[JsObjV].fields
                .contains(toStr(as.headOption.getOrElse(JsUndef))))
            }
            case "toString" => native("toString")((t, _) => JsStr(toStr(t)))
            case _ => JsUndef
          }
        })
      case f: JsFuncV => prop match {
        case "prototype" => f.prototypeObj
        case "name" => JsStr(f.name)
        case "length" => JsNum(f.params.length.toDouble)
        case "call" => native("call") { (_, as) =>
          callValue(f, as.headOption.getOrElse(JsUndef), as.drop(1), f.name) }
        case "apply" => native("apply") { (_, as) =>
          val args = as.drop(1).headOption match {
            case Some(arr: JsArrV) => arr.elems.toList
            case _ => Nil
          }
          callValue(f, as.headOption.getOrElse(JsUndef), args, f.name) }
        case _ => JsUndef
      }
      case a: JsArrV => arrayMember(a, prop)
      case JsStr(s) => stringMember(s, prop)
      case JsNum(d) => numberMember(d, prop)
      case r: JsRegexV => regexMember(r, prop)
      case JsUndef => error(s"cannot read '$prop' of undefined")
      case JsNull => error(s"cannot read '$prop' of null")
      case _ => JsUndef
    }

    private def native(name: String)(
        fn: (JsVal, List[JsVal]) => JsVal): JsNativeV = new JsNativeV(name, fn)

    // --------------------------------------------------- array methods

    private def arrayMember(a: JsArrV, prop: String): JsVal = prop match {
      case "length" => JsNum(a.elems.length.toDouble)
      case _ if prop.toIntOption.exists(i => i >= 0) =>
        val i = prop.toInt
        if (i < a.elems.length) a.elems(i) else JsUndef
      case "push" => native("push") { (_, as) =>
        a.elems ++= as; JsNum(a.elems.length.toDouble) }
      case "pop" => native("pop") { (_, _) =>
        if (a.elems.isEmpty) JsUndef else a.elems.remove(a.elems.length - 1) }
      case "shift" => native("shift") { (_, _) =>
        if (a.elems.isEmpty) JsUndef else a.elems.remove(0) }
      case "unshift" => native("unshift") { (_, as) =>
        a.elems.prependAll(as); JsNum(a.elems.length.toDouble) }
      case "join" => native("join") { (_, as) =>
        val sep = as.headOption.map(toStr).getOrElse(",")
        JsStr(a.elems.map {
          case JsUndef | JsNull => ""
          case e => toStr(e)
        }.mkString(sep)) }
      case "slice" => native("slice") { (_, as) =>
        val n = a.elems.length
        val from = sliceIndex(as.headOption, 0, n)
        val until = sliceIndex(as.drop(1).headOption, n, n)
        new JsArrV(a.elems.slice(from, math.max(from, until)).clone()) }
      case "splice" => native("splice") { (_, as) =>
        val n = a.elems.length
        val start = sliceIndex(as.headOption, 0, n)
        val del = as.drop(1).headOption
          .map(d => math.max(0, math.min(toNum(d).toInt, n - start)))
          .getOrElse(n - start)
        val removed = new JsArrV(a.elems.slice(start, start + del).clone())
        a.elems.remove(start, del)
        a.elems.insertAll(start, as.drop(2))
        removed }
      case "concat" => native("concat") { (_, as) =>
        val out = a.elems.clone()
        as.foreach {
          case other: JsArrV => out ++= other.elems
          case v => out += v
        }
        new JsArrV(out) }
      case "reverse" => native("reverse") { (_, _) =>
        val r = a.elems.reverse; a.elems.clear(); a.elems ++= r; a }
      case "indexOf" => native("indexOf") { (_, as) =>
        val target = as.headOption.getOrElse(JsUndef)
        JsNum(a.elems.indexWhere(strictEq(_, target)).toDouble) }
      case "lastIndexOf" => native("lastIndexOf") { (_, as) =>
        val target = as.headOption.getOrElse(JsUndef)
        JsNum(a.elems.lastIndexWhere(strictEq(_, target)).toDouble) }
      case "map" => native("map") { (_, as) =>
        val f = as.head
        new JsArrV(a.elems.zipWithIndex.map { case (v, i) =>
          callValue(f, JsUndef, List(v, JsNum(i), a), "map callback") }) }
      case "filter" => native("filter") { (_, as) =>
        val f = as.head
        new JsArrV(a.elems.zipWithIndex.collect {
          case (v, i) if toBool(
            callValue(f, JsUndef, List(v, JsNum(i), a), "filter callback")) => v
        }) }
      case "forEach" => native("forEach") { (_, as) =>
        val f = as.head
        a.elems.zipWithIndex.foreach { case (v, i) =>
          callValue(f, JsUndef, List(v, JsNum(i), a), "forEach callback") }
        JsUndef }
      case "reduce" => native("reduce") { (_, as) =>
        val f = as.head
        var (acc, start) = as.drop(1).headOption match {
          case Some(init) => (init, 0)
          case None =>
            if (a.elems.isEmpty) error("reduce of empty array with no initial value")
            (a.elems.head, 1)
        }
        (start until a.elems.length).foreach { i =>
          acc = callValue(f, JsUndef,
            List(acc, a.elems(i), JsNum(i), a), "reduce callback")
        }
        acc }
      case "some" => native("some") { (_, as) =>
        val f = as.head
        JsBool(a.elems.zipWithIndex.exists { case (v, i) =>
          toBool(callValue(f, JsUndef, List(v, JsNum(i), a), "some callback")) }) }
      case "every" => native("every") { (_, as) =>
        val f = as.head
        JsBool(a.elems.zipWithIndex.forall { case (v, i) =>
          toBool(callValue(f, JsUndef, List(v, JsNum(i), a), "every callback")) }) }
      case "sort" => native("sort") { (_, as) =>
        val sorted = as.headOption match {
          case Some(cmp) if cmp != JsUndef =>
            a.elems.sortWith { (x, y) =>
              toNum(callValue(cmp, JsUndef, List(x, y), "sort comparator")) < 0 }
          case _ => a.elems.sortBy(toStr) // ES default: string order
        }
        a.elems.clear(); a.elems ++= sorted; a }
      case "toString" => native("toString")((_, _) => JsStr(toStr(a)))
      case _ => JsUndef
    }

    private def sliceIndex(arg: Option[JsVal], default: Int, n: Int): Int =
      arg match {
        case Some(v) if v != JsUndef =>
          val i = toNum(v).toInt
          if (i < 0) math.max(0, n + i) else math.min(i, n)
        case _ => default
      }

    // -------------------------------------------------- string methods

    private def stringMember(s: String, prop: String): JsVal = prop match {
      case "length" => JsNum(s.length.toDouble)
      case _ if prop.toIntOption.exists(i => i >= 0) =>
        val i = prop.toInt
        if (i < s.length) JsStr(s.charAt(i).toString) else JsUndef
      case "charAt" => native("charAt") { (_, as) =>
        val i = as.headOption.map(toNum(_).toInt).getOrElse(0)
        JsStr(if (i >= 0 && i < s.length) s.charAt(i).toString else "") }
      case "charCodeAt" => native("charCodeAt") { (_, as) =>
        val i = as.headOption.map(toNum(_).toInt).getOrElse(0)
        JsNum(if (i >= 0 && i < s.length) s.charAt(i).toDouble else Double.NaN) }
      case "indexOf" => native("indexOf") { (_, as) =>
        JsNum(s.indexOf(toStr(as.headOption.getOrElse(JsUndef))).toDouble) }
      case "lastIndexOf" => native("lastIndexOf") { (_, as) =>
        JsNum(s.lastIndexOf(toStr(as.headOption.getOrElse(JsUndef))).toDouble) }
      case "substring" => native("substring") { (_, as) =>
        val n = s.length
        var a0 = as.headOption.filter(_ != JsUndef)
          .map(v => clamp(toNum(v).toInt, 0, n)).getOrElse(0)
        var b0 = as.drop(1).headOption.filter(_ != JsUndef)
          .map(v => clamp(toNum(v).toInt, 0, n)).getOrElse(n)
        if (a0 > b0) { val t = a0; a0 = b0; b0 = t }
        JsStr(s.substring(a0, b0)) }
      case "substr" => native("substr") { (_, as) =>
        val n = s.length
        val from0 = as.headOption.map(toNum(_).toInt).getOrElse(0)
        val from = if (from0 < 0) math.max(0, n + from0) else math.min(from0, n)
        val len = as.drop(1).headOption.map(toNum(_).toInt).getOrElse(n - from)
        JsStr(s.substring(from, math.min(n, from + math.max(0, len)))) }
      case "slice" => native("slice") { (_, as) =>
        val n = s.length
        val from = sliceIndex(as.headOption, 0, n)
        val until = sliceIndex(as.drop(1).headOption, n, n)
        JsStr(s.substring(from, math.max(from, until))) }
      case "toUpperCase" => native("toUpperCase")((_, _) => JsStr(s.toUpperCase))
      case "toLowerCase" => native("toLowerCase")((_, _) => JsStr(s.toLowerCase))
      case "trim" => native("trim")((_, _) => JsStr(s.trim))
      case "concat" => native("concat") { (_, as) =>
        JsStr(s + as.map(toStr).mkString) }
      case "split" => native("split") { (_, as) =>
        val parts: Seq[String] = as.headOption match {
          case None | Some(JsUndef) => Seq(s)
          case Some(r: JsRegexV) => splitKeepAll(s, r.pattern)
          case Some(sep0) =>
            val sep = toStr(sep0)
            if (sep.isEmpty) s.map(_.toString)
            else splitKeepAll(s, java.util.regex.Pattern.compile(
              java.util.regex.Pattern.quote(sep)))
        }
        new JsArrV(mutable.ArrayBuffer.from(parts.map(JsStr(_): JsVal))) }
      case "replace" => native("replace") { (_, as) =>
        val pat = as.headOption.getOrElse(JsUndef)
        val rep = as.drop(1).headOption.getOrElse(JsUndef)
        JsStr(jsReplace(s, pat, rep)) }
      case "match" => native("match") { (_, as) =>
        val r = as.headOption match {
          case Some(re: JsRegexV) => re
          case Some(v) => new JsRegexV(toStr(v), "")
          case None => new JsRegexV("", "")
        }
        val m = r.pattern.matcher(s)
        if (r.global) {
          val out = mutable.ArrayBuffer.empty[JsVal]
          while (m.find()) out += JsStr(m.group())
          if (out.isEmpty) JsNull else new JsArrV(out)
        } else if (m.find()) {
          new JsArrV(mutable.ArrayBuffer.from(
            (0 to m.groupCount).map(g => Option(m.group(g))
              .fold[JsVal](JsUndef)(JsStr(_)))))
        } else JsNull }
      case "search" => native("search") { (_, as) =>
        val r = as.headOption match {
          case Some(re: JsRegexV) => re.pattern
          case Some(v) => java.util.regex.Pattern.compile(toStr(v))
          case None => java.util.regex.Pattern.compile("")
        }
        val m = r.matcher(s)
        JsNum(if (m.find()) m.start.toDouble else -1) }
      case "toString" => native("toString")((_, _) => JsStr(s))
      case _ => JsUndef
    }

    private def clamp(i: Int, lo: Int, hi: Int): Int =
      math.max(lo, math.min(i, hi))

    /** JS split keeps trailing empty strings (Java drops them). */
    private def splitKeepAll(s: String,
        p: java.util.regex.Pattern): Seq[String] =
      p.split(s, -1).toSeq

    private def jsReplace(s: String, pat: JsVal, rep: JsVal): String = {
      def applyRep(m: java.util.regex.Matcher): String = rep match {
        case f @ (_: JsFuncV | _: JsNativeV) =>
          val args = (0 to m.groupCount).map(g =>
            Option(m.group(g)).fold[JsVal](JsUndef)(JsStr(_))).toList :::
            List(JsNum(m.start.toDouble), JsStr(s))
          toStr(callValue(f, JsUndef, args, "replace callback"))
        case _ =>
          val r = toStr(rep)
          val sb = new StringBuilder
          var i = 0
          while (i < r.length) {
            val c = r.charAt(i)
            if (c == '$' && i + 1 < r.length) {
              val d = r.charAt(i + 1)
              if (d == '&') { sb.append(m.group()); i += 2 }
              else if (d == '$') { sb.append('$'); i += 2 }
              else if (d.isDigit && d > '0' && (d - '0') <= m.groupCount) {
                sb.append(Option(m.group(d - '0')).getOrElse("")); i += 2
              } else { sb.append(c); i += 1 }
            } else { sb.append(c); i += 1 }
          }
          sb.toString
      }
      pat match {
        case r: JsRegexV =>
          val m = r.pattern.matcher(s)
          val sb = new java.lang.StringBuilder
          var last = 0
          var go = m.find()
          while (go) {
            sb.append(s, last, m.start).append(applyRep(m))
            last = m.end
            go = r.global && (if (m.end == m.start) {
              // zero-width match: step forward to avoid an infinite loop
              if (m.end < s.length) sb.append(s.charAt(m.end))
              last = m.end + 1
              last <= s.length && m.find(last)
            } else m.find())
          }
          sb.append(s, math.min(last, s.length), s.length).toString
        case _ =>
          val target = toStr(pat)
          val idx = s.indexOf(target)
          if (idx < 0) s
          else {
            val fake = java.util.regex.Pattern
              .compile(java.util.regex.Pattern.quote(target)).matcher(s)
            fake.find(idx)
            s.substring(0, idx) + applyRep(fake) + s.substring(idx + target.length)
          }
      }
    }

    private def numberMember(d: Double, prop: String): JsVal = prop match {
      case "toFixed" => native("toFixed") { (_, as) =>
        val digits = as.headOption.map(toNum(_).toInt).getOrElse(0)
        JsStr(String.format(java.util.Locale.ROOT, s"%.${digits}f",
          Double.box(d))) }
      case "toString" => native("toString") { (_, as) =>
        as.headOption match {
          case Some(radix) if toNum(radix).toInt != 10 =>
            JsStr(java.lang.Long.toString(d.toLong, toNum(radix).toInt))
          case _ => JsStr(numToStr(d))
        } }
      case _ => JsUndef
    }

    private def regexMember(r: JsRegexV, prop: String): JsVal = prop match {
      case "source" => JsStr(r.source)
      case "flags" => JsStr(r.flags)
      case "global" => JsBool(r.global)
      case "test" => native("test") { (_, as) =>
        JsBool(r.pattern.matcher(toStr(as.headOption.getOrElse(JsUndef)))
          .find()) }
      case "exec" => native("exec") { (_, as) =>
        val s = toStr(as.headOption.getOrElse(JsUndef))
        val m = r.pattern.matcher(s)
        if (m.find()) new JsArrV(mutable.ArrayBuffer.from(
          (0 to m.groupCount).map(g => Option(m.group(g))
            .fold[JsVal](JsUndef)(JsStr(_)))))
        else JsNull }
      case _ => JsUndef
    }

    // ------------------------------------------------------ global env

    def newGlobal(): Env = {
      val g = new Env(null)
      val math0 = new JsObjV(mutable.LinkedHashMap.empty)
      def mfn(name: String)(f: List[Double] => Double): Unit =
        math0.fields(name) = native(name)((_, as) => JsNum(f(as.map(toNum))))
      mfn("abs")(as => math.abs(as.head))
      mfn("floor")(as => math.floor(as.head))
      mfn("ceil")(as => math.ceil(as.head))
      mfn("round")(as => math.floor(as.head + 0.5)) // ES round, not rint
      mfn("trunc")(as => as.head.toLong.toDouble)
      mfn("sqrt")(as => math.sqrt(as.head))
      mfn("cbrt")(as => math.cbrt(as.head))
      mfn("pow")(as => math.pow(as.head, as(1)))
      mfn("exp")(as => math.exp(as.head))
      mfn("log")(as => math.log(as.head))
      mfn("log2")(as => math.log(as.head) / math.log(2))
      mfn("log10")(as => math.log10(as.head))
      mfn("sin")(as => math.sin(as.head))
      mfn("cos")(as => math.cos(as.head))
      mfn("tan")(as => math.tan(as.head))
      mfn("atan")(as => math.atan(as.head))
      mfn("atan2")(as => math.atan2(as.head, as(1)))
      mfn("sign")(as => math.signum(as.head))
      math0.fields("min") = native("min")((_, as) =>
        JsNum(if (as.isEmpty) Double.PositiveInfinity else as.map(toNum).min))
      math0.fields("max") = native("max")((_, as) =>
        JsNum(if (as.isEmpty) Double.NegativeInfinity else as.map(toNum).max))
      math0.fields("PI") = JsNum(math.Pi)
      math0.fields("E") = JsNum(math.E)
      // Deterministic splitmix64-based random: same sequence every
      // evaluation, so jseval results are reproducible across engines
      // runs and retries (the reference's V8 random would not be).
      math0.fields("random") = native("random") { (_, _) =>
        rngState += 0x9E3779B97F4A7C15L
        var z = rngState
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        JsNum((z >>> 11).toDouble / (1L << 53).toDouble)
      }
      g.declare("Math", math0)

      val json = new JsObjV(mutable.LinkedHashMap.empty)
      json.fields("stringify") = native("stringify") { (_, as) =>
        jsonStringify(as.headOption.getOrElse(JsUndef)) match {
          case Some(s) => JsStr(s)
          case None => JsUndef
        } }
      json.fields("parse") = native("parse") { (_, as) =>
        jsonParse(toStr(as.headOption.getOrElse(JsUndef))) }
      g.declare("JSON", json)

      val objectNative = native("Object")((_, as) =>
        as.headOption.getOrElse(new JsObjV(mutable.LinkedHashMap.empty)))
      g.declare("Object", {
        val o = objectNative
        o
      })
      // Object.keys/values as properties of a function value are not
      // representable on JsNativeV; expose them as globals the docs use.
      g.declare("ObjectKeys", native("ObjectKeys") { (_, as) =>
        as.headOption match {
          case Some(o: JsObjV) => new JsArrV(
            mutable.ArrayBuffer.from(o.fields.keys.map(JsStr(_): JsVal)))
          case Some(a: JsArrV) => new JsArrV(mutable.ArrayBuffer.from(
            a.elems.indices.map(i => JsStr(i.toString): JsVal)))
          case _ => new JsArrV(mutable.ArrayBuffer.empty)
        } })
      g.declare("parseInt", native("parseInt") { (_, as) =>
        val s = toStr(as.headOption.getOrElse(JsUndef)).trim
        val radix = as.drop(1).headOption.map(toNum(_).toInt)
          .filter(_ != 0).getOrElse(10)
        val (sign, rest0) =
          if (s.startsWith("-")) (-1, s.substring(1))
          else if (s.startsWith("+")) (1, s.substring(1)) else (1, s)
        val (r2, rest) =
          if (radix == 16 && (rest0.startsWith("0x") || rest0.startsWith("0X")))
            (16, rest0.substring(2))
          else if (radix == 10 && (rest0.startsWith("0x") || rest0.startsWith("0X")))
            (16, rest0.substring(2))
          else (radix, rest0)
        val digits = rest.takeWhile(c => Character.digit(c, r2) >= 0)
        if (digits.isEmpty) JsNum(Double.NaN)
        else JsNum(sign * java.lang.Long.parseLong(digits, r2).toDouble) })
      g.declare("parseFloat", native("parseFloat") { (_, as) =>
        val s = toStr(as.headOption.getOrElse(JsUndef)).trim
        val m = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
          .findFirstIn(s)
        JsNum(m.map(_.toDouble).getOrElse(Double.NaN)) })
      g.declare("isNaN", native("isNaN")((_, as) =>
        JsBool(toNum(as.headOption.getOrElse(JsUndef)).isNaN)))
      g.declare("isFinite", native("isFinite") { (_, as) =>
        val d = toNum(as.headOption.getOrElse(JsUndef))
        JsBool(!d.isNaN && !d.isInfinity) })
      g.declare("String", native("String")((_, as) =>
        JsStr(as.headOption.map(toStr).getOrElse(""))))
      g.declare("Number", native("Number")((_, as) =>
        JsNum(as.headOption.map(toNum).getOrElse(0d))))
      g.declare("Boolean", native("Boolean")((_, as) =>
        JsBool(as.headOption.exists(toBool))))
      g.declare("Array", native("Array")((_, as) => constructors("Array")(as)))
      g.declare("Date", native("Date")((_, as) => constructors("Date")(as)))
      g.declare("RegExp", native("RegExp")((_, as) =>
        constructors("RegExp")(as)))
      g.declare("Error", native("Error")((_, as) => constructors("Error")(as)))
      g.declare("Infinity", JsNum(Double.PositiveInfinity))
      g.declare("NaN", JsNum(Double.NaN))
      g.declare("undefined", JsUndef)
      // console.log: swallowed (function results are values, not logs)
      val console = new JsObjV(mutable.LinkedHashMap.empty)
      console.fields("log") = native("log")((_, _) => JsUndef)
      console.fields("warn") = native("warn")((_, _) => JsUndef)
      g.declare("console", console)
      g
    }
  }

  // --------------------------------------------------------------- JSON

  /** JSON.stringify: None for undefined/function at the top level. */
  def jsonStringify(v: JsVal): Option[String] = v match {
    case JsUndef | _: JsFuncV | _: JsNativeV => None
    case _ =>
      val sb = new StringBuilder
      writeJson(v, sb)
      Some(sb.toString)
  }

  private def writeJson(v: JsVal, sb: StringBuilder): Unit = v match {
    case JsNull => sb.append("null")
    case JsBool(b) => sb.append(b)
    case JsNum(d) =>
      if (d.isNaN || d.isInfinity) sb.append("null")
      else sb.append(numToStr(d))
    case JsStr(s) => writeJsonString(s, sb)
    case a: JsArrV =>
      sb.append('[')
      var first = true
      a.elems.foreach { e =>
        if (!first) sb.append(',')
        first = false
        e match {
          case JsUndef | _: JsFuncV | _: JsNativeV => sb.append("null")
          case other => writeJson(other, sb)
        }
      }
      sb.append(']')
    case o: JsObjV =>
      sb.append('{')
      var first = true
      o.fields.foreach { case (k, fv) =>
        fv match {
          case JsUndef | _: JsFuncV | _: JsNativeV => ()
          case other =>
            if (!first) sb.append(',')
            first = false
            writeJsonString(k, sb)
            sb.append(':')
            writeJson(other, sb)
        }
      }
      sb.append('}')
    case r: JsRegexV => sb.append("{}")
    case JsUndef | _: JsFuncV | _: JsNativeV => sb.append("null")
  }

  private def writeJsonString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def jsonParse(s: String): JsVal = {
    val p = new JsonP(s)
    val v = p.value()
    p.skipWs()
    if (!p.atEnd) error("JSON.parse: trailing characters")
    v
  }

  private final class JsonP(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def fail(): Nothing = error(s"JSON.parse: unexpected input at $i")
    def value(): JsVal = {
      skipWs()
      if (atEnd) fail()
      s.charAt(i) match {
        case '{' =>
          i += 1
          val m = mutable.LinkedHashMap.empty[String, JsVal]
          skipWs()
          if (!atEnd && s.charAt(i) == '}') { i += 1; return new JsObjV(m) }
          var go = true
          while (go) {
            skipWs()
            if (atEnd || s.charAt(i) != '"') fail()
            val k = str()
            skipWs()
            if (atEnd || s.charAt(i) != ':') fail()
            i += 1
            m(k) = value()
            skipWs()
            if (!atEnd && s.charAt(i) == ',') i += 1
            else if (!atEnd && s.charAt(i) == '}') { i += 1; go = false }
            else fail()
          }
          new JsObjV(m)
        case '[' =>
          i += 1
          val b = mutable.ArrayBuffer.empty[JsVal]
          skipWs()
          if (!atEnd && s.charAt(i) == ']') { i += 1; return new JsArrV(b) }
          var go = true
          while (go) {
            b += value()
            skipWs()
            if (!atEnd && s.charAt(i) == ',') i += 1
            else if (!atEnd && s.charAt(i) == ']') { i += 1; go = false }
            else fail()
          }
          new JsArrV(b)
        case '"' => JsStr(str())
        case 't' if s.startsWith("true", i) => i += 4; JsBool(true)
        case 'f' if s.startsWith("false", i) => i += 5; JsBool(false)
        case 'n' if s.startsWith("null", i) => i += 4; JsNull
        case c if c == '-' || c.isDigit =>
          val start = i
          if (s.charAt(i) == '-') i += 1
          while (i < s.length && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) i += 1
          val text = s.substring(start, i)
          try new JsNum(text.toDouble, JsNum.decimal(text))
          catch { case _: NumberFormatException => fail() }
        case _ => fail()
      }
    }
    private def str(): String = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'u' if i + 5 < s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      if (atEnd) fail()
      i += 1 // closing quote
      sb.toString
    }
  }
}
