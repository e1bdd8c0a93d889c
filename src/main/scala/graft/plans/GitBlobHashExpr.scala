package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst realization of the git-blob content hash (SURVEY X7,
  * reference `/root/reference/olake/ingest/arena.py:11-45`): normalize
  * (CRLF and lone CR to LF, strip trailing whitespace per line, strip
  * trailing blank lines) then hash `"blob <bytelen>\0<body>"`.
  *
  * Two algorithms: SHA-256 (default, DuckDB-oracle-checkable, used by
  * every declared query) and SHA-1 (`sha1 = true`) which is bit-for-bit
  * `git hash-object` / the reference's real dedup keys; the SHA-1 form is
  * oracle-exempt (DuckDB 1.0 has no sha1) and is spec-verified against
  * `git hash-object` vectors instead.
  *
  * Semantically identical to the pure-built-in column forms
  * [[graft.functions.Fns.gitBlobHash]] / `gitBlobHashSha1`
  * (property-tested equal), but one codegen'd call instead of a 3-deep
  * regexp_replace chain, the SURVEY 7 "upgrade to a custom Expression
  * with codegen" path. Codegen emits a static call into
  * [[GitBlobHashExpr.hash]]; the expression stays inside whole-stage
  * codegen (no CodegenFallback).
  */
case class GitBlobHashExpr(child: Expression, sha1: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String =
    if (sha1) "graft_git_blob_sha1" else "graft_git_blob_hash"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(GitBlobHashExpr.hash(
      input.asInstanceOf[UTF8String].toString, sha1))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.GitBlobHashExpr.hash($c.toString(), $sha1))")

  override protected def withNewChildInternal(
      newChild: Expression): GitBlobHashExpr = copy(child = newChild)
}

object GitBlobHashExpr {

  // The normalization regexes mirror Fns.normalizeSource exactly
  // (CRLF/CR to LF, per-line rstrip of the full Python whitespace
  // class, trailing blank lines dropped; `(?d)` keeps `$` LF-anchored
  // like Python split('\n') / RE2). Compiled once: String.replaceAll
  // would recompile each pattern on every row.
  private val lineEnd = Pattern.compile("\\r\\n?")
  private val trailingSpace =
    Pattern.compile(s"(?md)${graft.functions.Fns.rstripClass}+$$")
  private val trailingNewlines = Pattern.compile("(?d)\\n+$")

  /** JVM-side hash of the normalized source. */
  def hash(s: String, sha1: Boolean): String = {
    val crlf = lineEnd.matcher(s).replaceAll("\n")
    val rstripped = trailingSpace.matcher(crlf).replaceAll("")
    val norm = trailingNewlines.matcher(rstripped).replaceAll("")
    val body = norm.getBytes(StandardCharsets.UTF_8)
    val header = s"blob ${body.length}\u0000"
      .getBytes(StandardCharsets.UTF_8)
    val md = MessageDigest.getInstance(if (sha1) "SHA-1" else "SHA-256")
    md.update(header)
    md.update(body)
    Hex.lower(md.digest())
  }

  /** Binary-compat overload (pre-SHA-1 signature). */
  def hash(s: String): String = hash(s, sha1 = false)

  val identifier: FunctionIdentifier =
    FunctionIdentifier("graft_git_blob_hash")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[GitBlobHashExpr].getCanonicalName, "graft_git_blob_hash")

  val sha1Identifier: FunctionIdentifier =
    FunctionIdentifier("graft_git_blob_sha1")

  val sha1Info: ExpressionInfo = new ExpressionInfo(
    classOf[GitBlobHashExpr].getCanonicalName, "graft_git_blob_sha1")

  private def mk(useSha1: Boolean)(children: Seq[Expression]): Expression = {
    require(children.size == 1,
      "git blob hash takes exactly one argument")
    val c = children.head
    // cast the single argument to string (the implicit-cast behavior
    // ImplicitCastInputTypes would supply; that trait is private[sql]
    // in Spark 4)
    GitBlobHashExpr(
      if (c.dataType == StringType) c else Cast(c, StringType), useSha1)
  }

  val builder: Seq[Expression] => Expression = mk(useSha1 = false)
  val sha1Builder: Seq[Expression] => Expression = mk(useSha1 = true)
}
