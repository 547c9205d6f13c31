package graft.spark

import graft.css.{Engine, SelectorAst}
import graft.model.Arena
import graft.ops.TreeOps
import graft.sources.{HtmlParser, Serializer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the dom_query operator surface
 * (SURVEY.md §2.10). These evaluate per-row on Tungsten data via
 * [[ArrayDataAccess]] — no Row/encoder conversion in the hot path, which is
 * why they beat Scala UDFs (preference order per the Spark guide:
 * built-ins > custom Expression > UDF). All are deterministic and null-safe.
 * They run inside whole-stage codegen through [[BodyCodegen]], so a chain
 * such as parse → select → explode → `canonicalize_url` is one fused stage
 * and a parsed `nodes` array passes between them as a local value, never
 * written into an `UnsafeRow`.
 *
 * The selector string must be a foldable literal — the plan compiles ONCE on
 * first evaluation (the reference's reusable-Matcher pattern,
 * `src/matcher.rs:24-33`, README.md:294-315). Selector, op and mode literals
 * are checked in `checkInputDataTypes`, so a bad one fails analysis before
 * any task runs.
 */
/** Marker of the expressions that read or build a document's `nodes`
  * array: deterministic, and costly enough per evaluation that
  * [[PushDomBelowGenerate]] evaluates one once per document, below a
  * `Generate`, when it reads only the generator's input row. */
trait DomExpression extends BodyCodegen

object DomExprUtil {
  def compile(e: Expression): List[SelectorAst.Complex] =
    SelectorAst.parse(e.eval(InternalRow.empty).toString)

  /** Analysis-time check of a literal string argument: foldable, non-null
    * and accepted by `valid`. */
  def checkLiteral(e: Expression, what: String)(valid: String => Boolean): TypeCheckResult =
    if (!e.foldable) TypeCheckResult.TypeCheckFailure(s"$what must be a literal")
    else e.eval(InternalRow.empty) match {
      case null => TypeCheckResult.TypeCheckFailure(s"$what must not be null")
      case v if valid(v.toString) => TypeCheckResult.TypeCheckSuccess
      case v => TypeCheckResult.TypeCheckFailure(s"invalid $what '$v'")
    }
  def checkSelector(e: Expression): TypeCheckResult =
    checkLiteral(e, "selector")(SelectorAst.tryParse(_).isDefined)
  def firstFailure(checks: TypeCheckResult*): TypeCheckResult =
    checks.find(_.isFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  def intsToArray(xs: Array[Int]): GenericArrayData =
    new GenericArrayData(xs.map(x => x: Any))
  def idsFrom(a: ArrayData): Seq[Int] = {
    val n = a.numElements()
    (0 until n).map(a.getInt)
  }
}

/** `parse_html(html)` / `parse_fragment(html)` → ARRAY<STRUCT<node>> (S1/S2).
  * With `meta` (`parse_html_meta` / `parse_fragment_meta`) → STRUCT<nodes,
  * errors ARRAY<STRING>, quirks_mode STRING> — the parse surface of SURVEY
  * §1.4 / reference `Document { errors, quirks_mode }` (`document.rs:22-32`);
  * errors and quirks mode are converted only then. */
case class ParseHtml(child: Expression, fragment: Boolean, meta: Boolean = false)
    extends UnaryExpression with DomExpression {
  override def dataType: DataType =
    if (!meta) NodeSchema.nodesArrayType
    else StructType(Seq(
      StructField("nodes", NodeSchema.nodesArrayType, nullable = false),
      StructField("errors", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("quirks_mode", StringType, nullable = false)))
  override def nullSafeEval(html: Any): Any = {
    val arena = HtmlParser.parse(html.toString, fragment)
    val nodes = NodeSchema.arenaToArrayData(arena)
    if (!meta) nodes
    else InternalRow(nodes,
      new GenericArrayData(arena.errors.map(e => UTF8String.fromString(e): Any).toArray),
      UTF8String.fromString(arena.quirksMode))
  }
  override def prettyName: String =
    (if (fragment) "parse_fragment" else "parse_html") + (if (meta) "_meta" else "")
  override protected def withNewChildInternal(c: Expression): ParseHtml = copy(child = c)
}

/** `css_select(nodes, 'css')` → ARRAY<INT> of matches under the root (Q1). */
case class CssSelect(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  @transient private lazy val plan = DomExprUtil.compile(right)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.checkSelector(right)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, css: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    if (acc.size == 0) return DomExprUtil.intsToArray(Array.empty)
    DomExprUtil.intsToArray(Engine.select(acc, Seq(0), plan))
  }
  override def prettyName: String = "css_select"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CssSelect =
    copy(left = l, right = r)
}

/** `css_select_first(nodes, 'css')` → INT index of first match or -1 (Q2). */
case class CssSelectFirst(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  @transient private lazy val plan = DomExprUtil.compile(right)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.checkSelector(right)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(nodes: Any, css: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    if (acc.size == 0) -1 else Engine.selectFirst(acc, Seq(0), plan)
  }
  override def prettyName: String = "css_select_first"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CssSelectFirst =
    copy(left = l, right = r)
}

/** `css_select_under(nodes, ids, 'css')` → chained sub-select (Q3);
  * roots themselves never match. */
case class CssSelectUnder(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  @transient private lazy val plan = DomExprUtil.compile(third)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.checkSelector(third)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, ids: Any, css: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val roots = DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData])
    DomExprUtil.intsToArray(Engine.selectChained(acc, roots, plan))
  }
  override def prettyName: String = "css_select_under"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `css_filter(nodes, ids, 'css')` → ids whose node matches (Q4, is-semantics). */
case class CssFilter(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  @transient private lazy val plan = DomExprUtil.compile(third)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.checkSelector(third)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, ids: Any, css: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val roots = DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData])
    DomExprUtil.intsToArray(roots.filter(i => Engine.matches(acc, i, plan)).toArray)
  }
  override def prettyName: String = "css_filter"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `css_is(nodes, ids, 'css')` → BOOLEAN: any selected node matches (Q8). */
case class CssIs(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  @transient private lazy val plan = DomExprUtil.compile(third)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.checkSelector(third)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(nodes: Any, ids: Any, css: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData])
      .exists(i => Engine.matches(acc, i, plan))
  }
  override def prettyName: String = "css_is"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_find(nodes, 'body,td,a')` → ARRAY<INT>: descent-pruned name-path
  * walk (F1, reference `dom_tree/traversal.rs:90-138`) — the reference's own
  * benches show it ~5× faster than full CSS select for tag-only paths. */
case class DomFind(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  @transient private lazy val path: Seq[String] =
    right.eval(InternalRow.empty).toString.split(",").map(_.trim).toSeq
  override def checkInputDataTypes(): TypeCheckResult =
    DomExprUtil.checkLiteral(right, "find path")(_ => true)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, names: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    if (acc.size == 0) return DomExprUtil.intsToArray(Array.empty)
    DomExprUtil.intsToArray(Engine.findByNames(acc, Seq(0), path))
  }
  override def prettyName: String = "dom_find"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DomFind =
    copy(left = l, right = r)
}

/** `dom_copy_selection(target_nodes, 'target_css', source_nodes, 'source_css',
  * 'append'|'replace')` → new target nodes with the source selection's
  * subtrees deep-copied (id-remapped) into/over every target match — the
  * cross-tree copy surface (M11/M12/C1/C2, reference `selection.rs:445-486`). */
case class DomCopySelection(children: Seq[Expression])
    extends Expression with DomExpression {
  require(children.length == 5,
    "dom_copy_selection(target_nodes, target_css, source_nodes, source_css, mode)")
  @transient private lazy val targetPlan = DomExprUtil.compile(children(1))
  @transient private lazy val sourcePlan = DomExprUtil.compile(children(3))
  private lazy val mode = children(4).eval(InternalRow.empty).toString
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.firstFailure(
    DomExprUtil.checkSelector(children(1)),
    DomExprUtil.checkSelector(children(3)),
    DomExprUtil.checkLiteral(children(4), "mode")(Set("append", "replace")))
  override def dataType: DataType = NodeSchema.nodesArrayType
  override def nullable: Boolean = children.head.nullable || children(2).nullable
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = evalValues(children.map(_.eval(input)).toArray)
  override def evalValues(vs: Array[Any]): Any = {
    val (targetVal, sourceVal) = (vs(0), vs(2))
    if (targetVal == null || sourceVal == null) return null
    val target = new ArrayDataAccess(targetVal.asInstanceOf[ArrayData]).toArena
    val source = new ArrayDataAccess(sourceVal.asInstanceOf[ArrayData]).toArena
    val targets = Engine.select(new graft.css.ArenaAccess(target), Seq(0), targetPlan)
    val sources = Engine.select(new graft.css.ArenaAccess(source), Seq(0), sourcePlan)
    targets.foreach { t =>
      sources.foreach { s =>
        val c = TreeOps.copyNode(target, source, s)
        mode match {
          case "append" => TreeOps.appendChild(target, t, c)
          case "replace" => TreeOps.insertBefore(target, t, c)
          case other => throw new IllegalArgumentException(s"unknown copy mode '$other'")
        }
      }
      if (mode == "replace") TreeOps.removeFromParent(target, t)
    }
    NodeSchema.arenaToArrayData(target)
  }
  override def prettyName: String = "dom_copy_selection"
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): DomCopySelection =
    copy(children = cs)
}

/** `dom_text(nodes, ids)` → concatenated subtree text of all ids (X6).
  * r6: collects the Tungsten text values and byte-concats them with
  * `UTF8String.concat` — the old StringBuilder path decoded every text node
  * UTF8→String and re-encoded the result. */
case class DomText(left: Expression, right: Expression, immediate: Boolean = false)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    acc.joinTextU { f =>
      var k = 0
      while (k < idArr.numElements()) {
        val i = idArr.getInt(k)
        if (immediate) acc.foreachImmediateText(i)(f) else acc.foreachSubtreeText(i)(f)
        k += 1
      }
    }
  }
  override def prettyName: String = if (immediate) "dom_immediate_text" else "dom_text"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DomText =
    copy(left = l, right = r)
}

/** `dom_text_each(nodes, ids)` → ARRAY<STRING>: subtree text per id (batched
  * X6 — lets a whole selection be extracted in one projection and exploded
  * WITHOUT duplicating the nodes array per output row). */
case class DomTextEach(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    val out = new Array[Any](idArr.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = acc.joinTextU(acc.foreachSubtreeText(idArr.getInt(i))) // no String round-trip
      i += 1
    }
    new GenericArrayData(out)
  }
  override def prettyName: String = "dom_text_each"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `dom_attr_each(nodes, ids, 'key')` → ARRAY<STRING>: attr per id (batched X1). */
case class DomAttrEach(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullSafeEval(nodes: Any, ids: Any, key: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    val k = key.asInstanceOf[UTF8String]
    val out = new Array[Any](idArr.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = acc.attrU(idArr.getInt(i), k)
      i += 1
    }
    new GenericArrayData(out)
  }
  override def prettyName: String = "dom_attr_each"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_attr(nodes, ids, 'key')` → attr of FIRST id, null if absent (X1). */
case class DomAttr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(nodes: Any, ids: Any, key: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    if (idArr.numElements() == 0) return null
    acc.attrU(idArr.getInt(0), key.asInstanceOf[UTF8String])
  }
  override def prettyName: String = "dom_attr"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_has_attr(nodes, ids, key)` → whether the FIRST id carries the
  * attribute (X3, `Doc.hasAttr` first-match semantics — presence, not
  * value: distinguishes `attr=""` from absent, which `dom_attr IS NOT NULL`
  * cannot). False on an empty selection. */
case class DomHasAttr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(nodes: Any, ids: Any, key: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    idArr.numElements() > 0 && acc.attrU(idArr.getInt(0), key.asInstanceOf[UTF8String]) != null
  }
  override def prettyName: String = "dom_has_attr"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_html_root(nodes)` → id of the root's first element child (T8,
  * ≡ `Doc.htmlRoot`, both [[graft.css.NodeAccess.htmlRoot]]), -1 when the
  * document has none. */
case class DomHtmlRoot(child: Expression)
    extends UnaryExpression with DomExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(nodes: Any): Any =
    new ArrayDataAccess(nodes.asInstanceOf[ArrayData]).htmlRoot
  override def prettyName: String = "dom_html_root"
  override protected def withNewChildInternal(c: Expression): DomHtmlRoot = copy(child = c)
}

/** `dom_html(nodes, ids, include_root)` → HTML of first id (S4/X9). */
case class DomHtml(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(nodes: Any, ids: Any, includeRoot: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    if (idArr.numElements() == 0) return null
    val h = Serializer.toHtml(acc, idArr.getInt(0), includeRoot.asInstanceOf[Boolean],
      acc.templateContents)
    UTF8String.fromString(h)
  }
  override def prettyName: String = "dom_html"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_formatted_text(nodes, ids)` → formatted text of all ids (S6/X8). */
case class DomFormattedText(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val sb = new java.lang.StringBuilder
    DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData]).foreach { i =>
      sb.append(Serializer.formattedText(acc, i, includeRoot = true))
    }
    UTF8String.fromString(sb.toString)
  }
  override def prettyName: String = "dom_formatted_text"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `dom_md(nodes, ids)` → markdown of first id (S5). */
case class DomMd(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val idArr = ids.asInstanceOf[ArrayData]
    if (idArr.numElements() == 0) return null
    // include_node=false: the reference's public md() serializes the node's
    // CHILDREN and trims (`serializing/md/ext.rs:12-14`)
    UTF8String.fromString(Serializer.toMd(acc, idArr.getInt(0), includeRoot = false))
  }
  override def prettyName: String = "dom_md"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `dom_norm_char_count(nodes, ids)` → X11 streaming fold. */
case class DomNormCharCount(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData]).map(acc.normCharCount).sum
  }
  override def prettyName: String = "dom_norm_char_count"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * `dom_mutate_ops(nodes, css1, op1, a1, a2, css2, op2, a1, a2, …)` →
 * new nodes array with a whole mutation PIPELINE applied in one expression:
 * ONE ArrayData→Arena decode and ONE rebuild per row regardless of op count.
 * Each op re-selects against the current arena, so op N sees op N-1's result
 * exactly like chained calls. `dom_mutate(nodes, 'css', 'op', arg1, arg2)` is
 * the one-op form ([[DomMutateOps.single]]).
 *
 * Ops (M1-M18): set_attr(k,v) remove_attr(k) add_class(c) remove_class(c)
 * rename(n) set_text(t) remove() append_html(h) prepend_html(h) set_html(h)
 * before_html(h) after_html(h) replace_with_html(h) wrap_html(h) unwrap()
 * strip_elements(names-csv) normalize() append_children(css)
 * prepend_children(css) reparent_children(dest-css) remove_children()
 * to_fragment().
 *
 * The rebuild goes ArrayData → Arena → pointer surgery → ArrayData; derived
 * structural columns are recomputed (post-mutation trees lose preorder
 * contiguity — ids stay stable like the reference, `ops.rs:350-383`).
 */
case class DomMutateOps(children: Seq[Expression])
    extends Expression with DomExpression {
  require(children.length > 1 && (children.length - 1) % 4 == 0,
    "dom_mutate_ops(nodes, (css, op, arg1, arg2)+)")
  private def opCount = (children.length - 1) / 4
  @transient private lazy val plans =
    (0 until opCount).map(i => DomExprUtil.compile(children(1 + 4 * i)))
  private lazy val opNames =
    (0 until opCount).map(i => children(2 + 4 * i).eval(InternalRow.empty).toString)
  override def checkInputDataTypes(): TypeCheckResult =
    DomExprUtil.firstFailure((0 until opCount).flatMap(i => Seq(
      DomExprUtil.checkSelector(children(1 + 4 * i)),
      DomExprUtil.checkLiteral(children(2 + 4 * i), "dom_mutate op")(DomMutateOps.knownOps)
    )): _*)
  override def dataType: DataType = NodeSchema.nodesArrayType
  override def nullable: Boolean = children.head.nullable
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = evalValues(children.map(_.eval(input)).toArray)
  override def evalValues(vs: Array[Any]): Any = {
    if (vs(0) == null) return null
    var arena = new ArrayDataAccess(vs(0).asInstanceOf[ArrayData]).toArena
    var i = 0
    while (i < opCount) {
      val (a1, a2) = (vs(3 + 4 * i), vs(4 + 4 * i))
      arena = DomMutateOps.applyOp(arena, plans(i), opNames(i),
        if (a1 == null) null else a1.toString,
        if (a2 == null) null else a2.toString)
      i += 1
    }
    NodeSchema.arenaToArrayData(arena)
  }
  // the one-op form keeps its SQL name, so `dom_mutate(...)` columns read as written
  override def prettyName: String = if (opCount == 1) "dom_mutate" else "dom_mutate_ops"
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): DomMutateOps =
    copy(children = cs)
}

object DomMutateOps {
  /** `dom_mutate(nodes, css, op[, arg1[, arg2]])`: the one-op pipeline,
    * missing args padded with NULL. */
  def single(es: Seq[Expression]): DomMutateOps = {
    require(es.length >= 3 && es.length <= 5, "dom_mutate(nodes, css, op[, arg1[, arg2]])")
    DomMutateOps(es ++ Seq.fill(5 - es.length)(Literal(null)))
  }

  // first match of an arg selector against the CURRENT arena state —
  // resolved per target so op k sees op k-1's surgery, like chained calls.
  // Arg selectors arrive as data strings: the shared plan cache is capped.
  private def firstMatch(arena: Arena, css: String): Int =
    Engine.select(new graft.css.ArenaAccess(arena), Seq(0), SelectorAst.parseCached(css))
      .headOption.getOrElse(-1)

  /** The in-place ops by name: (arena, target, arg1, arg2) → pointer surgery. */
  private val inPlaceOps: Map[String, (Arena, Int, String, String) => Unit] = Map(
    // M6: move the arg1-selected node AND its following siblings in as
    // children of the target
    "append_children" -> { (a, t, x, _) =>
      val first = firstMatch(a, x)
      if (first != -1) TreeOps.appendChildren(a, t, first)
    },
    "prepend_children" -> { (a, t, x, _) =>
      val first = firstMatch(a, x)
      if (first != -1) TreeOps.prependChildren(a, t, first)
    },
    // M8: move ALL children of the target under the arg1 first match
    "reparent_children" -> { (a, t, x, _) =>
      val to = firstMatch(a, x)
      if (to != -1) TreeOps.reparentChildren(a, t, to)
    },
    "remove_children" -> ((a, t, _, _) => TreeOps.removeChildren(a, t)),
    "set_attr" -> ((a, t, x, y) => TreeOps.setAttr(a, t, x, y)),
    "remove_attr" -> ((a, t, x, _) => TreeOps.removeAttrs(a, t, Seq(x))),
    "add_class" -> ((a, t, x, _) => TreeOps.addClass(a, t, x)),
    "remove_class" -> ((a, t, x, _) => TreeOps.removeClass(a, t, x)),
    "rename" -> ((a, t, x, _) => TreeOps.rename(a, t, x)),
    "set_text" -> ((a, t, x, _) => TreeOps.setText(a, t, x)),
    "remove" -> ((a, t, _, _) => TreeOps.removeFromParent(a, t)),
    "append_html" -> ((a, t, x, _) => TreeOps.appendHtml(a, t, x)),
    "prepend_html" -> ((a, t, x, _) => TreeOps.prependHtml(a, t, x)),
    "set_html" -> ((a, t, x, _) => TreeOps.setHtml(a, t, x)),
    "before_html" -> ((a, t, x, _) => TreeOps.beforeHtml(a, t, x)),
    "after_html" -> ((a, t, x, _) => TreeOps.afterHtml(a, t, x)),
    "replace_with_html" -> ((a, t, x, _) => TreeOps.replaceWithHtml(a, t, x)),
    "wrap_html" -> ((a, t, x, _) => TreeOps.wrapHtml(a, t, x)),
    "unwrap" -> ((a, t, _, _) => TreeOps.unwrapNode(a, t)),
    "strip_elements" -> ((a, t, x, _) => TreeOps.stripElements(a, t, x.split(",").toSet)),
    "normalize" -> ((a, t, _, _) => TreeOps.normalize(a, t))
  )

  /** Every op name `dom_mutate` / `dom_mutate_ops` accept. */
  val knownOps: Set[String] = inPlaceOps.keySet + "to_fragment"

  /** One selector-targeted mutation over a live arena. Returns the arena to
    * continue with: the input for in-place pointer surgery, or a
    * REPLACEMENT for the whole-document ops (to_fragment). */
  def applyOp(arena: Arena, plan: List[SelectorAst.Complex], opName: String,
      arg1: String, arg2: String): Arena = {
    val targets = Engine.select(new graft.css.ArenaAccess(arena), Seq(0), plan)
    if (opName == "to_fragment") {
      // C3: the document becomes the standalone fragment clone of the FIRST
      // target (`node_ref.rs:743-767` semantics via TreeOps.toFragment)
      return targets.headOption.map(t => TreeOps.toFragment(arena, t)).getOrElse(arena)
    }
    val op = inPlaceOps.getOrElse(opName,
      throw new IllegalArgumentException(s"unknown dom_mutate op '$opName'"))
    targets.foreach(t => op(arena, t, arg1, arg2))
    arena
  }
}

/**
 * `dom_spans(nodes)` → the canonical interchange view of the input_hint:
 * `ARRAY<STRUCT<kind:STRING, text:STRING, media_ref:STRING, offset:INT>>`,
 * the document flattened in PREORDER (pointer walk — correct post-mutation,
 * where arena order ≠ document order). `media_ref` carries the interleaved
 * media pointer: the `src` attribute of img/audio/video/source/track/embed
 * elements. The per-row invariant vs the reference is span-sequence equality
 * on (kind, text, media_ref, order) — reference preorder per
 * `src/node/iters.rs:142-200`.
 */
case class DomSpans(child: Expression)
    extends UnaryExpression with DomExpression {
  import org.apache.spark.sql.types._
  private val mediaElems = Set("img", "audio", "video", "source", "track", "embed")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType, nullable = false))), containsNull = false)
  override def nullSafeEval(nodes: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    if (acc.size == 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    acc.foreachPreorder(0) { cur =>
      val kind = acc.kind(cur)
      val text = if (acc.isText(cur) || kind == "comment" || kind == "pi") acc.text(cur) else null
      val media =
        if (acc.isElement(cur) && mediaElems(acc.name(cur))) acc.attr(cur, "src")
        else acc.mediaRef(cur)
      out += InternalRow(
        UTF8String.fromString(kind),
        if (text == null) null else UTF8String.fromString(text),
        if (media == null) null else UTF8String.fromString(media),
        out.length)
    }
    new GenericArrayData(out.toArray)
  }
  override def prettyName: String = "dom_spans"
  override protected def withNewChildInternal(c: Expression): DomSpans = copy(child = c)
}

/** `dom_ancestors(nodes, ids, max_depth)` → ARRAY<INT>: merged ancestor ids
  * of the selection, per-node nearest-first, deduped in first-seen order —
  * the T2/T3 traversal surface (reference `ancestors(max_depth)`,
  * `src/node/node_ref.rs` via `AncestorNodes`, `src/node/iters.rs:96-140`;
  * max_depth <= 0 = unbounded, mirroring `Option<usize>` None). Same walk as
  * `Sel.ancestors` ([[graft.css.NodeAccess.foreachAncestor]]), but every id
  * is kept, the document node included. */
case class DomAncestors(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with DomExpression {
  private lazy val maxDepth: Int = third.eval(InternalRow.empty).asInstanceOf[Int]
  override def checkInputDataTypes(): TypeCheckResult =
    DomExprUtil.checkLiteral(third, "max_depth")(_ => third.dataType == IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, ids: Any, md: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val seen = new java.util.LinkedHashSet[Int]()
    DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData])
      .foreach(acc.foreachAncestor(_, maxDepth)(seen.add(_)))
    val out = new Array[Int](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    DomExprUtil.intsToArray(out)
  }
  override def prettyName: String = "dom_ancestors"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** `dom_children(nodes, ids)` → ARRAY<INT>: merged child ids of the selection
  * in document order — the T1 traversal surface (reference `children()`,
  * `src/node/iters.rs:64-94` ChildNodes pointer walk). */
case class DomChildren(left: Expression, right: Expression)
    extends BinaryExpression with DomExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(nodes: Any, ids: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    DomExprUtil.idsFrom(ids.asInstanceOf[ArrayData]).foreach(acc.foreachChild(_)(out += _))
    DomExprUtil.intsToArray(out.toArray)
  }
  override def prettyName: String = "dom_children"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `dom_validate(nodes)` → NULL if structurally valid else the violation (C4). */
case class DomValidate(child: Expression)
    extends UnaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(nodes: Any): Any = {
    TreeOps.validate(new ArrayDataAccess(nodes.asInstanceOf[ArrayData]).toArena) match {
      case Some(msg) => UTF8String.fromString(msg)
      case None => null
    }
  }
  override def prettyName: String = "dom_validate"
  override protected def withNewChildInternal(c: Expression): DomValidate = copy(child = c)
}

/** `dom_base_uri(nodes)` → the cached `html>head>base[href]` walk (F5). */
case class DomBaseUri(child: Expression)
    extends UnaryExpression with DomExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(nodes: Any): Any = {
    val acc = new ArrayDataAccess(nodes.asInstanceOf[ArrayData])
    val f = acc.baseUriNode
    if (f == -1) null else acc.attrU(f, DomBaseUri.Href)
  }
  override def prettyName: String = "dom_base_uri"
  override protected def withNewChildInternal(c: Expression): DomBaseUri = copy(child = c)
}

object DomBaseUri {
  private val Href = UTF8String.fromString("href")
}
