package graft.lake

import graft.SparkSpec
import scala.util.Random

/** Randomized MERGE statements executed through BOTH SQL entry points
  * ([[DmlSurfaces]]: the GraftSql front door and `spark.sql` on a
  * GraftCatalog) against a real store, each checked row-for-row
  * against the same executable Scala model
  * of the documented semantics: per target ROW, matched-ness is decided
  * by key presence in the source; the first action (declaration order)
  * whose condition holds claims the row; unclaimed rows carry through;
  * NOT MATCHED inserts are judged against the PRE-merge target keys.
  * Duplicate target keys are legal (each sibling row classifies
  * independently); the source is key-unique per the engine contract.
  * The statements the engine must refuse raise the same exception on
  * both surfaces and commit nothing.
  */
class GraftSqlPropertySpec extends SparkSpec with DmlSurfaces {
  import spark.implicits._

  private case class T(pk: Int, v: Int)
  private case class U(pk: Int, uv: Int)

  /** A condition usable as MERGE SQL and as a model predicate.
    * `scope`: M = matched (t+u), I = insert (u only), N = nmbs (t only). */
  private case class Cond(sql: String, scope: Char,
                          eval: (Option[T], Option[U]) => Boolean)

  private val matchedConds = Seq(
    Cond("u.v > 5", 'M', (_, u) => u.exists(_.uv > 5)),
    Cond("t.v % 2 = 0", 'M', (t, _) => t.exists(_.v % 2 == 0)),
    Cond("t.v < u.v", 'M', (t, u) => (for (a <- t; b <- u) yield a.v < b.uv).getOrElse(false)))
  private val insertConds = Seq(
    Cond("u.v % 3 = 0", 'I', (_, u) => u.exists(_.uv % 3 == 0)),
    Cond("u.pk > 4", 'I', (_, u) => u.exists(_.pk > 4)))
  private val nmbsConds = Seq(
    Cond("t.v > 3", 'N', (t, _) => t.exists(_.v > 3)),
    Cond("t.pk % 2 = 1", 'N', (t, _) => t.exists(_.pk % 2 == 1)))

  /** An action: its SQL text and the model transition for a claimed
    * row (None = delete). */
  private case class Action(sql: String, cond: Option[Cond],
                            apply: (T, Option[U]) => Option[T])

  private def matchedAction(rnd: Random, mustCond: Boolean): Action = {
    val cond = if (mustCond || rnd.nextBoolean())
      Some(matchedConds(rnd.nextInt(matchedConds.length))) else None
    val head = "WHEN MATCHED" + cond.map(c => s" AND ${c.sql}").getOrElse("")
    rnd.nextInt(3) match {
      case 0 => Action(s"$head THEN DELETE", cond, (_, _) => None)
      case 1 => Action(s"$head THEN UPDATE SET v = u.v",
        cond, (t, u) => Some(t.copy(v = u.get.uv)))
      case _ => Action(s"$head THEN UPDATE SET v = t.v + u.v",
        cond, (t, u) => Some(t.copy(v = t.v + u.get.uv)))
    }
  }

  private def nmbsAction(rnd: Random): Action = {
    val cond = if (rnd.nextBoolean())
      Some(nmbsConds(rnd.nextInt(nmbsConds.length))) else None
    val head = "WHEN NOT MATCHED BY SOURCE" +
      cond.map(c => s" AND ${c.sql}").getOrElse("")
    if (rnd.nextBoolean())
      Action(s"$head THEN DELETE", cond, (_, _) => None)
    else
      Action(s"$head THEN UPDATE SET v = 0 - t.v", cond,
        (t, _) => Some(t.copy(v = -t.v)))
  }

  /** Walk an action chain for one target row; None = no action claims. */
  private def claim(actions: Seq[Action], t: T, u: Option[U]): Option[Action] =
    actions.find(_.cond.forall(_.eval(Some(t), u)))

  test("random MERGE statements equal the executable model (seeded)") {
    val rnd = new Random(20260812L)
    for (iter <- 0 until 15) {
      // target: 0-12 rows over a small pk pool, duplicates allowed
      val target = Seq.fill(rnd.nextInt(13))(
        T(rnd.nextInt(8), rnd.nextInt(10)))
      // source: key-unique (engine contract)
      val source = rnd.shuffle((0 until 8).toList)
        .take(rnd.nextInt(7)).map(pk => U(pk, rnd.nextInt(10)))
      val sourceByPk = source.map(u => u.pk -> u).toMap

      val matched = (1 to rnd.nextInt(3)).toList match {
        case Nil => Nil
        case one :: Nil => List(matchedAction(rnd, mustCond = false))
        case _ => List(matchedAction(rnd, mustCond = true),
          matchedAction(rnd, mustCond = false))
      }
      val insertCond = if (rnd.nextBoolean())
        Some(insertConds(rnd.nextInt(insertConds.length))) else None
      val doInsert = rnd.nextBoolean()
      val nmbs = if (rnd.nextBoolean()) List(nmbsAction(rnd)) else Nil
      if (matched.nonEmpty || doInsert || nmbs.nonEmpty) {
        def stmt(target: String) = (Seq(s"MERGE INTO $target t USING s$iter u ON t.pk = u.pk") ++
          matched.map(_.sql) ++
          (if (doInsert) Seq("WHEN NOT MATCHED" +
            insertCond.map(c => s" AND ${c.sql}").getOrElse("") +
            " THEN INSERT *") else Nil) ++
          nmbs.map(_.sql)).mkString("\n")

        // model
        val preKeys = target.map(_.pk).toSet
        val survivors = target.flatMap { t =>
          val u = sourceByPk.get(t.pk)
          val chain = if (u.isDefined) matched else nmbs
          claim(chain, t, u) match {
            case Some(a) => a.apply(t, u)
            case None => Some(t)
          }
        }
        val inserts = if (doInsert)
          source.filterNot(u => preKeys.contains(u.pk))
            .filter(u => insertCond.forall(_.eval(None, Some(u))))
            .map(u => T(u.pk, u.uv))
        else Nil
        val expect = (survivors ++ inserts).map(t => (t.pk, t.v))
          .sorted

        // engine, through each entry point
        source.map(u => (u.pk, u.uv)).toDF("pk", "v")
          .createOrReplaceTempView(s"s$iter")
        for (sf <- surfaces("gsqlprop")) {
          sf.store.create(s"d$iter",
            target.map(t => (t.pk, t.v)).toDF("pk", "v"))
          sf.run(stmt(sf.table(s"d$iter")))
          val got = sf.store.read(s"d$iter")
            .as[(Int, Int)].collect().toSeq.sorted

          assert(got == expect,
            s"iteration $iter diverged on ${sf.name}\nstatement:\n" +
              s"${stmt(sf.table(s"d$iter"))}\ntarget=$target\n" +
              s"source=$source\ngot=$got\nexpect=$expect")
        }
      }
    }
  }

  /** Run `stmt` (target name rendered per surface) on each surface's
    * freshly seeded store; each must raise, the exception classes must
    * agree, and no table may change. */
  private def refusedAlike(label: String, seed: TableStore => Unit,
                           tables: Seq[String], stmt: (String => String) => String)
      : Seq[Throwable] = {
    val errs = surfaces("gsqlerr").map { sf =>
      seed(sf.store)
      def state = tables.map(t => (sf.store.currentVersion(t),
        sf.store.read(t).collect().map(_.toString).sorted.toSeq))
      val before = state
      val e = intercept[Throwable](sf.run(stmt(sf.table)))
      assert(state == before, s"$label: ${sf.name} committed a change")
      e
    }
    assert(errs.map(_.getClass).distinct.size == 1,
      s"$label: the surfaces raised different errors: ${errs.mkString(" | ")}")
    errs
  }

  private def seedPlain(store: TableStore): Unit =
    store.create("e", Seq((1, 10), (2, 20)).toDF("pk", "v"))

  test("refused MERGE statements raise the same error on both surfaces") {
    Seq((1, 5), (1, 6), (3, 7)).toDF("pk", "v").createOrReplaceTempView("dup_src")
    Seq((1, 5), (3, 7)).toDF("pk", "v").createOrReplaceTempView("uniq_src")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))

    // two source rows match target row 1: ambiguous, never committed
    val dup = refusedAlike("duplicate source key", seedPlain, Seq("e"),
      t => s"""MERGE INTO ${t("e")} t USING dup_src u ON t.pk = u.pk
              |WHEN MATCHED THEN UPDATE SET v = u.v""".stripMargin)
    assert(dup.forall(messages(_).exists(_.contains("cardinality"))),
      dup.mkString(" | "))

    refusedAlike("unknown SET target", seedPlain, Seq("e"),
      t => s"""MERGE INTO ${t("e")} t USING uniq_src u ON t.pk = u.pk
              |WHEN MATCHED THEN UPDATE SET nope = u.v""".stripMargin)
      .foreach(e => assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException], e))

    // the source side is all-NULL on a NOT MATCHED BY SOURCE row
    refusedAlike("NMBS source reference", seedPlain, Seq("e"),
      t => s"""MERGE INTO ${t("e")} t USING uniq_src u ON t.pk = u.pk
              |WHEN NOT MATCHED BY SOURCE AND u.v > 0 THEN DELETE""".stripMargin)
      .foreach(e => assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException], e))

    def seedView(store: TableStore): Unit = {
      seedPlain(store)
      MaterializedView.create(store, "mv", "e", Seq("pk"), Seq("v"))
    }
    refusedAlike("MERGE into a materialized view", seedView,
      Seq("mv", "mv__def"),
      t => s"""MERGE INTO ${t("mv")} t USING uniq_src u ON t.pk = u.pk
              |WHEN MATCHED THEN DELETE""".stripMargin)
      .foreach(e => assert(messages(e).exists(_.contains("materialized view")), e))
    refusedAlike("MERGE into a view's __def companion", seedView,
      Seq("mv", "mv__def"),
      t => s"""MERGE INTO ${t("mv__def")} d USING (SELECT 'x' AS src) s
              |ON d.src = s.src WHEN MATCHED THEN DELETE""".stripMargin)
      .foreach(e => assert(messages(e).exists(_.contains("definition companion")), e))
  }
}
