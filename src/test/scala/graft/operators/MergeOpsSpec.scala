package graft.operators

import graft.SparkSpec
import graft.spec.MergeOptions
import org.apache.spark.sql.functions._

class MergeOpsSpec extends SparkSpec {

  import spark.implicits._

  private def target = Seq(
    (1, "a", 10.0, "F"), (2, "b", 20.0, "O"), (3, "c", 30.0, "O"))
    .toDF("id", "name", "amount", "status")

  private def source = Seq(
    (2, "b2", 25.0, "O"), (3, "c2", 35.0, "F"), (4, "d", 40.0, "O"))
    .toDF("id", "name", "amount", "status")

  test("upsert: update-all on match, insert-all on no-match") {
    val out = MergeOps.merge(target, source, Seq("id"))
    assert(out.count() == 4)
    assert(out.where("id = 2 AND name = 'b2' AND amount = 25.0").count() == 1)
    assert(out.where("id = 1 AND name = 'a'").count() == 1)
    assert(out.where("id = 4").count() == 1)
  }

  test("matched delete clause") {
    val out = MergeOps.merge(target, source, Seq("id"),
      deleteCondition = Some(col("s.status") === "F"))
    assert(out.where("id = 3").count() == 0) // deleted
    assert(out.count() == 3) // 1 kept, 2 updated, 4 inserted
  }

  test("update column set + predicates") {
    val out = MergeOps.merge(target, source, Seq("id"),
      updateCondition = Some(col("s.amount") > col("t.amount")),
      updateSet = Map("amount" -> col("s.amount")))
    // only amount updated, name untouched
    assert(out.where("id = 2 AND name = 'b' AND amount = 25.0").count() == 1)
  }

  test("insert_only suppresses matched actions") {
    val out = MergeOps.merge(target, source, Seq("id"), insertOnly = true)
    assert(out.where("id = 2 AND name = 'b' AND amount = 20.0").count() == 1)
    assert(out.where("id = 4").count() == 1)
  }

  test("cast guard is per-clause: a delete-destined row with an uncastable value merges fine") {
    // Delta's store assignment casts at ASSIGNMENT, not per source row —
    // a row the delete clause purges never materializes its values
    // (io/writers/delta_merge_writer.py clause composition)
    val tgt = Seq((1, 10), (2, 20)).toDF("id", "amount")
    val src = Seq(("1", "N/A", "D"), ("3", "30", "I")).toDF("id", "amount", "op")
    val out = MergeOps.mergeWithOptions(tgt.withColumn("op", lit("")), src, MergeOptions(
      mergePredicate = "current.id = new.id",
      deletePredicate = Some("new.op = 'D'")))
    assert(out.where("id = 1").count() == 0) // deleted, guard never fired
    assert(out.where("id = 3 AND amount = 30").count() == 1)
    // the same value in an UPDATE-destined row must still fail loudly
    val bad = Seq(("2", "N/A", "U")).toDF("id", "amount", "op")
    val thrown = intercept[Exception] {
      MergeOps.mergeWithOptions(tgt.withColumn("op", lit("")), bad, MergeOptions(
        mergePredicate = "current.id = new.id")).count()
    }
    assert(thrown.getMessage != null)
  }

  test("insert column set: named columns take expressions, unnamed become null") {
    // reference whenNotMatchedInsert(values=...) semantics
    // (io/writers/delta_merge_writer.py:91-105, exercised by
    // tests/feature/delta_load/test_delta_load_merge_options.py)
    val out = MergeOps.mergeWithOptions(target, source, MergeOptions(
      mergePredicate = "current.id = new.id",
      insertColumnSet = Map(
        "id" -> "new.id", "amount" -> "new.amount + 101")))
    // matched rows still update-all
    assert(out.where("id = 2 AND name = 'b2' AND amount = 25.0").count() == 1)
    // inserted row: expression applied, unnamed columns null
    assert(out.where("id = 4 AND amount = 141.0 AND name IS NULL AND status IS NULL")
      .count() == 1)
  }

  test("insert column set honors the insert predicate") {
    val out = MergeOps.mergeWithOptions(target, source, MergeOptions(
      mergePredicate = "current.id = new.id",
      insertPredicate = Some("new.status = 'F'"),
      insertColumnSet = Map("id" -> "new.id", "name" -> "new.name")))
    assert(out.where("id = 4").count() == 0) // status O filtered out
    assert(out.count() == 3)
  }

  test("merge options with current./new. aliases and insert predicate") {
    val out = MergeOps.mergeWithOptions(target, source, MergeOptions(
      mergePredicate = "current.id = new.id",
      insertPredicate = Some("new.status = 'O'")))
    assert(out.where("id = 4").count() == 1)
    // idempotence: merging the merged result with the same source changes nothing
    val again = MergeOps.mergeWithOptions(out, source, MergeOptions(
      mergePredicate = "current.id = new.id",
      insertPredicate = Some("new.status = 'O'")))
    assertSameRows(out, again)
  }

  test("translateAliases is quote-aware and word-boundary safe") {
    assert(MergeOps.translateAliases("current.id = new.id") == "t.id = s.id")
    // aliases inside string literals / backquoted identifiers survive
    assert(MergeOps.translateAliases("status = 'new.pending' AND current.id = new.id")
      == "status = 'new.pending' AND t.id = s.id")
    assert(MergeOps.translateAliases("`current.weird` = new.x") == "`current.weird` = s.x")
    assert(MergeOps.translateAliases("note = \"current.raw\"") == "note = \"current.raw\"")
    // escaped quote inside a literal does not terminate the string
    assert(MergeOps.translateAliases("s = 'a\\'new.b' AND new.ok") == "s = 'a\\'new.b' AND s.ok")
    // word boundaries: renew.x is not new.x
    assert(MergeOps.translateAliases("renew.x = concurrent.y") == "renew.x = concurrent.y")
  }

  test("merge(init) + merge(delta) == full recompute (reference delta-load invariant)") {
    val init = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    val delta1 = Seq((2, 21.0), (3, 30.0)).toDF("id", "v")
    val delta2 = Seq((1, 11.0), (3, 31.0)).toDF("id", "v")
    val incremental = MergeOps.merge(
      MergeOps.merge(init, delta1, Seq("id")), delta2, Seq("id"))
    val expected = Seq((1, 11.0), (2, 21.0), (3, 31.0)).toDF("id", "v")
    assertSameRows(incremental, expected)
  }

  test("mergeWrite settles an interrupted swap before probing the target") {
    import graft.spec.OutputSpec
    val loc = tmpDir("merge-recover") + "/t"
    val spec = OutputSpec(specId = "m", writeType = "merge",
      location = Some(loc),
      mergeOpts = Some(MergeOptions(mergePredicate = "current.id = new.id")))
    graft.io.Writers.writeBatch(spark, spec, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // crash shape: a swap that renamed live away and died — loc is
    // missing, loc__old holds the data. A mergeWrite that probed
    // existence without recovering would take the create branch and
    // silently drop every previously merged row.
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(loc).getFileSystem(conf)
    assert(fs.rename(new org.apache.hadoop.fs.Path(loc),
      new org.apache.hadoop.fs.Path(loc + "__old")))
    graft.io.Writers.writeBatch(spark, spec, Seq((2, "B"), (3, "c")).toDF("id", "v"))
    assert(spark.read.parquet(loc).as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  // --- multiple-source-row match contract (Delta MERGE runtime semantics,
  // surfaced by the reference through delta_merge_writer.py:110-139): a
  // target row matched by >1 source rows cannot be updated/deleted
  // deterministically → the merge must FAIL, not silently duplicate the
  // target row — except insert-only merges and the unconditional-delete
  // special case (idempotent).

  private def dupSource = Seq(
    (2, "b2", 25.0, "O"), (2, "b3", 26.0, "O"), (4, "d", 40.0, "O"))
    .toDF("id", "name", "amount", "status")

  test("multi-match update raises (Delta multiple-source-row contract)") {
    val thrown = intercept[Exception] {
      MergeOps.merge(target, dupSource, Seq("id")).count()
    }
    assert(thrown.getMessage.contains("source rows matched the same target row"))
  }

  test("multi-match with a conditional delete raises even when the condition never fires") {
    // Delta raises on the multiplicity itself, not on clause applicability
    val thrown = intercept[Exception] {
      MergeOps.merge(target, dupSource, Seq("id"),
        deleteCondition = Some(col("s.status") === "F")).count()
    }
    assert(thrown.getMessage.contains("source rows matched the same target row"))
  }

  test("multi-match unconditional delete is allowed and deletes once") {
    val out = MergeOps.merge(target, dupSource, Seq("id"),
      deleteCondition = Some(lit(true)))
    // id=2 deleted (twice, idempotently); unmatched target rows kept;
    // id=4 inserted
    assert(out.where("id = 2").count() == 0)
    assert(out.where("id IN (1, 3)").count() == 2)
    assert(out.where("id = 4").count() == 1)
  }

  test("multi-match unconditional delete via acon predicate string is also exempt") {
    // the declarative path builds deleteCondition with expr("true")
    // (SqlExpression node), not lit(true) — the exemption must hold there
    val out = MergeOps.mergeWithOptions(target, dupSource, MergeOptions(
      mergePredicate = "current.id = new.id",
      deletePredicate = Some("true")))
    assert(out.where("id = 2").count() == 0)
    assert(out.where("id IN (1, 3)").count() == 2)
  }

  test("multi-match insert_only emits the matched target row exactly once") {
    val out = MergeOps.merge(target, dupSource, Seq("id"), insertOnly = true)
    assert(out.where("id = 2").count() == 1) // not duplicated per matched pair
    assert(out.where("id = 2 AND name = 'b'").count() == 1) // and unmodified
    assert(out.where("id = 4").count() == 1)
    assert(out.count() == 4)
  }

  test("multi-match guard plan shape: equi-key merges count on the source side only") {
    // equi path: the guard window sits BELOW the join (source side), so
    // its extra shuffle moves only the source — in the top-down plan dump
    // the join prints before the window. The first join operator is the
    // matched-clause join, whichever physical join the planner picks.
    def joinAt(plan: String) =
      "\\w+Join\\b".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    val equiPlan = MergeOps.merge(target, source, Seq("id"))
      .queryExecution.executedPlan.toString
    val (ew, ej) = (equiPlan.indexOf("Window"), joinAt(equiPlan))
    assert(ew >= 0 && ej >= 0 && ej < ew,
      s"expected the guard window below the join:\n$equiPlan")
    // theta path: per-target-row count needs the joined set — window above
    val thetaPlan = MergeOps.mergeWithCondition(target, source,
        col("t.id") === col("s.id") && col("s.amount") > lit(0))
      .queryExecution.executedPlan.toString
    val (tw, tj) = (thetaPlan.indexOf("Window"), joinAt(thetaPlan))
    assert(tw >= 0 && tj >= 0 && tw < tj,
      s"expected the guard window above the join:\n$thetaPlan")
    // unconditional delete: no guard window at all
    val delPlan = MergeOps.merge(target, source, Seq("id"),
        deleteCondition = Some(lit(true)))
      .queryExecution.executedPlan.toString
    assert(!delPlan.contains("Window"), s"expected no guard window:\n$delPlan")
  }

  test("merge, delete and insert predicates can read source-only columns") {
    // the target has no `op` or `seq`; Delta resolves `new.x` against the
    // whole source row, and only target columns are written
    val src = Seq((2, "b2", 25.0, "O", "U", 1), (3, "c2", 35.0, "F", "D", 1),
        (4, "d", 40.0, "O", "I", 1), (5, "e", 50.0, "O", "D", 1), (1, "a9", 9.0, "F", "U", 0))
      .toDF("id", "name", "amount", "status", "op", "seq")
    val out = MergeOps.mergeWithOptions(target, src, MergeOptions(
      mergePredicate = "current.id = new.id AND new.seq > 0",
      deletePredicate = Some("new.op = 'D'"),
      insertPredicate = Some("new.op <> 'D' AND new.seq > 0")))
    assert(out.columns.toSeq == target.columns.toSeq)
    assert(out.as[(Int, String, Double, String)].collect().sortBy(_._1).toSeq == Seq(
      (1, "a", 10.0, "F"), // seq 0 never matches, and the insert predicate drops it
      (2, "b2", 25.0, "O"), // updated
      (4, "d", 40.0, "O"))) // inserted; 3 deleted; 5 is a delete of nothing
  }

  test("equiKeysOf parses only pure same-column equality conjunctions") {
    assert(MergeOps.equiKeysOf("current.id = new.id") == Some(Seq("id")))
    assert(MergeOps.equiKeysOf("current.a = new.a AND current.b <=> new.b") ==
      Some(Seq("a", "b")))
    assert(MergeOps.equiKeysOf("new.a = current.a and (current.b = new.b)") ==
      Some(Seq("a", "b")))
    assert(MergeOps.equiKeysOf("current.id = new.id OR current.x = new.x").isEmpty)
    assert(MergeOps.equiKeysOf("current.id = new.other").isEmpty)
    assert(MergeOps.equiKeysOf("current.id = new.id AND new.op != 'D'").isEmpty)
    assert(MergeOps.equiKeysOf("current.id > new.id").isEmpty)
  }

  test("a source row matching two target rows is not a multi-match error") {
    // the contract is per-TARGET-row multiplicity; one source row updating
    // two target rows is legal MERGE (both get the update)
    val tgt = Seq((1, "x", "a"), (1, "y", "b")).toDF("id", "sub", "v")
    val src = Seq((1, "Z")).toDF("id", "v")
    val out = MergeOps.mergeWithCondition(tgt, src.withColumn("sub", lit("")),
      col("t.id") === col("s.id"),
      updateSet = Map("v" -> col("s.v")))
    assert(out.where("v = 'Z'").count() == 2)
  }
}
