package graft.kb

/**
 * Core data model of the Spark-native KG engine.
 *
 * The reference engine (dig-team/amie) stores facts as int-encoded
 * `int[3]` triples with six nested-hash-map indexes
 * (reference: kb/src/main/java/amie/data/KB.java:40-72). Here a fact is a
 * row of a `DataFrame(subj, pred, obj)` — indexing is replaced by
 * partitioned storage + Catalyst join strategies, and variables are plain
 * column names instead of negative ints
 * (reference: kb/src/main/java/amie/data/Schema.java:221-263).
 */
sealed trait Term extends Serializable
/** A query variable, e.g. Var("x"). Name is the join-column name. */
final case class Var(name: String) extends Term
/** A constant entity/relation/literal (interned string in the reference). */
final case class Const(value: String) extends Term

/**
 * One conjunctive-query atom `p(s, o)`.
 *
 * Pseudo-atoms (evaluated as filters/joins rather than scans, mirroring
 * the reference's meta-relations, kb/.../AbstractKB.java:91-133) use the
 * reserved predicates in [[Atom.DifferentFrom]] / [[Atom.Equals]].
 */
final case class Atom(s: Term, p: Term, o: Term) {
  def vars: Seq[Var] = Seq(s, p, o).collect { case v: Var => v }
  def isPseudo: Boolean = p match {
    case Const(Atom.DifferentFrom) | Const(Atom.Equals) => true
    case _                                              => false
  }
  /** Meta-relation atom (reference AbstractKB.java:102-133 `exists`
    * family + Schema.java:130-160 composite cardinality relations):
    * lowered by [[QueryBuilder]] to a derived binding table instead of a
    * triples scan. Pseudo-atoms (pure filters) are NOT meta. */
  def isMeta: Boolean = p match {
    case Const(p0) =>
      Atom.ExistsFamily.contains(p0) || p0 == Atom.TransitiveType ||
        Atom.cardinalityMeta(p0).isDefined
    case _ => false
  }
  override def toString: String = {
    def t(x: Term) = x match { case Var(n) => s"?$n"; case Const(v) => v }
    s"${t(p)}(${t(s)}, ${t(o)})"
  }
}
object Atom {
  val DifferentFrom = "differentFrom"
  val Equals        = "equals"

  /** `exists(r, X)` ⇔ ∃y r(X, y) — AbstractKB.java:109. */
  val Exists       = "exists"
  /** `existsInv(r, X)` ⇔ ∃y r(y, X) — AbstractKB.java:115. */
  val ExistsInv    = "existsInv"
  /** `~exists(r, X)` ⇔ ¬∃y r(X, y) — AbstractKB.java:121. */
  val NotExists    = "~exists"
  /** `~existsInv(r, X)` ⇔ ¬∃y r(y, X) — AbstractKB.java:127. */
  val NotExistsInv = "~existsInv"
  val ExistsFamily: Set[String] = Set(Exists, ExistsInv, NotExists, NotExistsInv)

  /** `transitiveType(x, C)` ⇔ x has a direct rdf:type that is C or a
    * strict subclass of C (KB.java:929-944,1207-1230 TRANSITIVETYPEbs
    * branches). Lowered by [[QueryBuilder.metaDF]] to a join against the
    * entailed (entity, class) table — see the divergence note there. */
  val TransitiveType = "transitiveType"
  /** Engine-wide default schema relations consumed by the transitiveType
    * lowering (the reference's Schema.typeRelation/subClassRelation
    * defaults, Schema.java:100-118). */
  val TypeRelation     = "rdf:type"
  val SubClassRelation = "rdfs:subClassOf"

  /** Parsed composite cardinality relation, e.g.
    * `hasNumberOfValuesGreaterThan2` (Schema.java:158-161,172-196:
    * `compose(relation, n)`). `inverse` counts subjects-per-object. */
  final case class CardMeta(op: String, inverse: Boolean, n: Int)
  val CardEquals      = "Equals"
  val CardGreaterThan = "GreaterThan"
  val CardSmallerThan = "SmallerThan"
  private val CardRe =
    "hasNumberOfValues(Equals|GreaterThan|SmallerThan)(Inv)?([0-9]+)".r
  def cardinalityMeta(p: String): Option[CardMeta] = p match {
    case CardRe(op, inv, n) => Some(CardMeta(op, inv != null, n.toInt))
    case _                  => None
  }
}

/** A materialized fact row. Column names are the engine-wide contract. */
final case class Triple(subj: String, pred: String, obj: String)

/**
 * Per-relation statistics — the Spark replacement of the reference's
 * relationSize / functionality maps (kb/.../KB.java:386-430,660-708).
 * Computed in a single aggregation pass and broadcast to the driver.
 */
final case class RelationStats(
    pred: String,
    size: Long,          // #facts of the relation
    distinctSubj: Long,  // #distinct subjects
    distinctObj: Long) { // #distinct objects
  /** PARIS functionality: |dom(r)| / |r| (KB.java:660-686). */
  def functionality: Double = if (size == 0) 0.0 else distinctSubj.toDouble / size
  def inverseFunctionality: Double = if (size == 0) 0.0 else distinctObj.toDouble / size
  /** Functional head variable choice (MiningAssistant.java:722-729). */
  def functionalVarIsSubject: Boolean = functionality >= inverseFunctionality
}
