package graft.spark

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TranscriptOps

/** Pins echo detection (TranscriptOps.echoDetect) to hand-computed overlap
  * values: most-recent-user pairing across intervening tool turns, set
  * semantics on both sides, integer ppm arithmetic, exclusion of assistant
  * turns with no preceding user turn, and partition invariance. */
class TranscriptOpsSpec extends AnyFunSuite with SparkFixture {

  private def turns(rows: (String, Int, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "role", "text")
  }

  private val corpus = turns(
    ("c1", 1, "user", "a b c"),
    ("c1", 2, "tool", "zzz"),
    ("c1", 3, "assistant", "a b x y"), // {a,b,x,y} ∩ {a,b,c} = 2/4
    ("c1", 4, "assistant", "a b c c"), // {a,b,c} ∩ {a,b,c} = 3/3 (dup token collapses)
    ("c1", 5, "user", "x"),
    ("c1", 6, "assistant", "x"), //       {x} ∩ {x} = 1/1 — pairing moved to t5
    ("c2", 1, "assistant", "a b"), //     no preceding user → excluded
    ("c2", 2, "user", "q"),
    ("c2", 3, "assistant", "r s t u v"), // 0/5
    ("c2", 4, "assistant", "")) //        split("") = [""] → 0/1

  test("echoDetect: hand-computed overlaps, tool turns don't reset the pairing") {
    val got = TranscriptOps.echoDetect(corpus).collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size === 5) // c2 turn 1 excluded: no user turn before it
    assert(got(("c1", 3)) === ((4L, 500000L, false)))
    assert(got(("c1", 4)) === ((3L, 1000000L, true)))
    assert(got(("c1", 6)) === ((1L, 1000000L, true)))
    assert(got(("c2", 3)) === ((5L, 0L, false)))
    assert(got(("c2", 4)) === ((1L, 0L, false)))
  }

  test("echoDetect: partition-invariant and threshold boundary is >=") {
    val base = TranscriptOps.echoDetect(corpus).collect().toSeq
    val reparted = TranscriptOps.echoDetect(corpus.repartition(7)).collect().toSeq
    assert(reparted === base)
    // exactly-at-threshold is an echo: 1/2 tokens at threshold 500000
    val at = TranscriptOps.echoDetect(
      turns(("c9", 1, "user", "a"), ("c9", 2, "assistant", "a z")),
      thresholdPpm = 500000L).collect()
    assert(at.length === 1 && at(0).getLong(3) === 500000L && at(0).getBoolean(4))
  }

  // --- convDedup -----------------------------------------------------------
  // Disjoint vocabularies per conversation group, so cross-group Jaccard is
  // exactly 0 and every assertion below is hand-computable.
  // h32 % ConvForkMod: cB → 0 (forked); cA → 2, cC → 2, solo → 1, tiny → 1.
  private val vocabB = (1 to 20).map(i => s"b$i").mkString(" ")
  private val vocabA = (1 to 20).map(i => s"a$i").mkString(" ")
  private val dedupCorpus = turns(
    ("cB", 1, "user", vocabB),          // 18 shingles
    ("cB", 2, "assistant", "b90 b91 b92"), // +1 shingle; the fork drops it
    ("cA", 1, "user", vocabA),          // cA and cC are token-identical
    ("cA", 2, "assistant", "a90 a91 a92 a93"),
    ("cC", 1, "user", vocabA),
    ("cC", 2, "assistant", "a90 a91 a92 a93"),
    ("solo", 1, "user", (1 to 10).map(i => s"s$i").mkString(" ")),
    ("tiny", 1, "user", "x y")) //       <3 tokens → no fingerprint, no row

  test("convDedup: fork twins and identical conversations are dups, clean convs clean") {
    val got = TranscriptOps.convDedup(dedupCorpus).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.getString(5)), r.getBoolean(6)))).toMap
    assert(got.keySet === Set("cA", "cB", "cB~f", "cC", "solo"))
    // cB's fork keeps 18 of 19 shingles: jaccard = 18·1e6 DIV 19 = 947368
    assert(got("cB") === ((false, 1L, 947368L, 1L, Some("cB~f"), true)))
    assert(got("cB~f") === ((true, 1L, 947368L, 1L, Some("cB"), true)))
    // identical conversations: full-band collision, jaccard exactly 1e6
    assert(got("cA") === ((false, 1L, 1000000L, 1L, Some("cC"), true)))
    assert(got("cC") === ((false, 1L, 1000000L, 1L, Some("cA"), true)))
    assert(got("solo") === ((false, 0L, 0L, 0L, None, false)))
  }

  test("convDedup: partition-invariant; single-turn forked conv leaves no empty fork") {
    val base = TranscriptOps.convDedup(dedupCorpus).collect().toSeq
    assert(TranscriptOps.convDedup(dedupCorpus.repartition(7)).collect().toSeq === base)
    // a forked conv with ONE turn forks to zero turns → the fork must not
    // surface as a phantom empty fingerprint
    val one = turns(("cB", 1, "user", vocabB))
    val got = TranscriptOps.convDedup(one).collect().map(_.getString(0)).toSet
    assert(got === Set("cB"))
  }

  test("convDedupIncr: delta probes the stored index — forks rejected, new convs admitted") {
    // standing = h32 % 4 != 1 → {cB, cA, cC}; delta = cB's drop-last-turn
    // retry twin (must verify vs stored cB) + solo/tiny (h32 % 4 = 1,
    // never indexed) + the identical pair nat2/pA (both h32 % 4 = 1 —
    // INTRA-batch duplicates: smaller id admitted, larger rejected).
    // tiny (< 3 tokens) has no fingerprint: admitted with 0 candidates.
    val dupVocab = (1 to 15).map(i => s"n$i").mkString(" ")
    val corpus = dedupCorpus.union(turns(
      ("nat2", 1, "user", dupVocab), ("pA", 1, "user", dupVocab)))
    val got = TranscriptOps.convDedupIncr(corpus).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.getString(5)), r.getBoolean(6)))).toMap
    assert(got.keySet === Set("cB~f", "solo", "tiny", "nat2", "pA"))
    assert(got("cB~f") === ((true, 1L, 947368L, 1L, Some("cB"), false)))
    assert(got("solo") === ((false, 0L, 0L, 0L, None, true)))
    assert(got("tiny") === ((false, 0L, 0L, 0L, None, true)))
    // intra-batch identical pair: nat2 < pA, so nat2 sees no smaller
    // partner (admitted) and pA dedups against its batchmate
    assert(got("nat2") === ((false, 0L, 0L, 0L, None, true)))
    assert(got("pA") === ((false, 1L, 1000000L, 1L, Some("nat2"), false)))
    assert(TranscriptOps.convDedupIncr(corpus.repartition(7))
      .collect().toSeq === TranscriptOps.convDedupIncr(corpus).collect().toSeq)
  }

  test("convDedup: forkMod = 0 is production mode — no scenario twins, real dups still found") {
    val got = TranscriptOps.convDedup(dedupCorpus, forkMod = 0L).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(6), Option(r.getString(5))))).toMap
    assert(got.keySet === Set("cA", "cB", "cC", "solo")) // no ~f rows
    assert(got("cA") === ((true, Some("cC"))) && got("cC") === ((true, Some("cA"))))
    assert(got("cB") === ((false, None)) && got("solo") === ((false, None)))
  }

  // --- lossMaskSpans / sftPairs --------------------------------------------
  // cM: user → tool → assistant → user → assistant, with a NULL-text turn
  // (idx 4) that must vanish from rendering, spans, and prompts alike.
  // cN: assistant COLD OPEN (no prior renderable turn) — the prompt = ''
  // branch absent from the synthetic corpus, pinned here.
  private val maskCorpus = {
    import spark.implicits._
    Seq(
      ("cM", 1, "user", "hi there"),
      ("cM", 2, "tool", "ls -la"),
      ("cM", 3, "assistant", "two files"),
      ("cM", 4, "user", null),
      ("cM", 5, "assistant", "anything else?"),
      ("cN", 1, "assistant", "cold open"),
      ("cN", 2, "user", "ok")).toDF("conv_id", "turn_idx", "role", "text")
  }

  /** The chat template, independently: role || ': ' || text, '\n'-joined. */
  private def rendered(rows: Seq[(String, String)]): String =
    rows.map { case (role, text) => s"$role: $text" }.mkString("\n")

  test("lossMaskSpans: spans index the rendered conversation, mask = assistant") {
    val got = TranscriptOps.lossMaskSpans(maskCorpus).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.size === 6) // cM turn 4 (NULL text) dropped
    val cm = rendered(Seq("user" -> "hi there", "tool" -> "ls -la",
      "assistant" -> "two files", "assistant" -> "anything else?"))
    // every span cuts exactly its own rendered turn out of the conversation
    for (((conv, _), (role, s, e, _)) <- got if conv == "cM") {
      val cut = cm.substring(s.toInt, e.toInt)
      assert(cut.startsWith(s"$role: "), s"span [$s,$e) = '$cut'")
    }
    assert(got(("cM", 1)) === (("user", 0L, 14L, false))) // 'user: hi there'
    assert(got(("cM", 3))._2 === 28L) // 14+1 + 12+1 = 28
    assert(got(("cM", 5))._4 === true)
    // the last span's end is the rendering's total length (no +1 tail)
    assert(got(("cM", 5))._3 === cm.length.toLong)
    assert(got(("cN", 1)) === (("assistant", 0L, 20L, true)))
    assert(got(("cN", 2))._4 === false)
  }

  test("sftPairs: prompt = rendering cut at span_start - 1; cold open exports prompt ''") {
    val pairs = TranscriptOps.sftPairs(maskCorpus).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(pairs.keySet === Set(("cM", 3), ("cM", 5), ("cN", 1)))
    assert(pairs(("cM", 3)) ===
      ((2L, rendered(Seq("user" -> "hi there", "tool" -> "ls -la")), "two files")))
    // NULL-text turn 4 absent from the later prompt too
    assert(pairs(("cM", 5)) === ((3L, rendered(Seq("user" -> "hi there",
      "tool" -> "ls -la", "assistant" -> "two files")), "anything else?")))
    assert(pairs(("cN", 1)) === ((0L, "", "cold open")))
    // agreement with the linear form: prompt is the rendering's prefix of
    // length span_start - 1 (the joiner before the assistant turn)
    val spans = TranscriptOps.lossMaskSpans(maskCorpus).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    for ((k, (_, prompt, _)) <- pairs)
      assert(prompt.length.toLong === math.max(0L, spans(k) - 1L), s"$k")
  }

  // --- packMasked -----------------------------------------------------------
  // Totals (rt_toks = 1 role token + text tokens): conv_1 = 4+3 = 7,
  // conv_2 = 5, conv_3 = 8+2 = 10 (the NULL-text tool turn contributes 0).
  // Shelf order (n_tokens DESC, conv_num): conv_3 (before 0), conv_1 (10),
  // conv_2 (17); budget 8 → packs 0/1/2 with offsets 0/2/1.
  private val packCorpus = {
    import spark.implicits._
    Seq(
      ("conv_1", 1, "user", "a b c"),
      ("conv_1", 2, "assistant", "d e"),
      ("conv_2", 1, "assistant", "x y z w"),
      ("conv_3", 1, "user", "p q r s t u v"),
      ("conv_3", 2, "tool", null),
      ("conv_3", 3, "assistant", "k")).toDF("conv_id", "turn_idx", "role", "text")
  }

  test("packMasked: shelf packing in packed token coordinates, straddle kept contiguous") {
    val got = TranscriptOps.packMasked(packCorpus, budget = 8L).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got.size === 5) // NULL-text tool turn dropped
    assert(got(("conv_3", 1)) === ((0L, 0L, 8L, false)))
    // straddles the 8-token shelf: span stays contiguous past the budget
    assert(got(("conv_3", 3)) === ((0L, 8L, 10L, true)))
    assert(got(("conv_1", 1)) === ((1L, 2L, 6L, false)))
    assert(got(("conv_1", 2)) === ((1L, 6L, 9L, true)))
    assert(got(("conv_2", 1)) === ((2L, 1L, 6L, true)))
    val base = TranscriptOps.packMasked(packCorpus, budget = 8L).collect().toSeq
    assert(TranscriptOps.packMasked(packCorpus.repartition(5), budget = 8L)
      .collect().toSeq === base)
  }

  test("packMasked plan: one conv-clustered exchange on the turn side, pack side broadcasts") {
    val plan = TranscriptOps.packMasked(packCorpus).queryExecution.executedPlan.toString
    // the turn side shuffles ONCE on conv_id (zero on a bucketed scan);
    // the one-row-per-conversation packs side joins broadcast, so turns
    // are never reshuffled for the join
    assert("Exchange hashpartitioning\\(conv_id".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("lossMaskSpans/sftPairs: partition-invariant") {
    val m = TranscriptOps.lossMaskSpans(maskCorpus).collect().toSeq
    assert(TranscriptOps.lossMaskSpans(maskCorpus.repartition(5)).collect().toSeq === m)
    val p = TranscriptOps.sftPairs(maskCorpus).collect().toSeq
    assert(TranscriptOps.sftPairs(maskCorpus.repartition(5)).collect().toSeq === p)
  }

  // --- transcriptPipeline --------------------------------------------------
  // h32 % ConvForkMod: c7 → 0 (forked); c1 → 1, c2/c9 → 2, c3 → 3 (clean).
  private val pipeCorpus = turns(
    ("c7", 1, "user", (1 to 20).map(i => s"b$i").mkString(" ")), // fork keeps
    ("c7", 2, "assistant", "b90 b91 b92"), // only turn 1: Jaccard 18/19 → dup; c7 wins
    ("c2", 1, "user", "e1 e2 e3 e4"),
    ("c2", 2, "assistant", "e1 e2 e3 e4"), // full echo → dropped by gate
    ("c3", 1, "user", "f1 f2 f3"),
    ("c3", 2, "assistant", "g1 g2 g3 g4"), // clean → selected
    ("c1", 1, "user", "h1 h2"),
    ("c1", 2, "assistant", "h1 h2"), //    one echo of two scored turns:
    ("c1", 3, "user", "h3 h4"),
    ("c1", 4, "assistant", "h5 h6"), //    ppm = exactly 500000 → dropped (strict <)
    ("c9", 1, "user", "z1 z2")) //         no fingerprint, no assistant → kept

  test("transcriptPipeline: dedup keep rule, echo gate boundary, shelf packing") {
    val got = TranscriptOps.transcriptPipeline(pipeCorpus).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2),
        Option(r.getString(3)), r.getBoolean(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)), r.getBoolean(7),
        r.getBoolean(8), if (r.isNullAt(9)) None else Some(r.getLong(9)),
        if (r.isNullAt(10)) None else Some(r.getLong(10)),
        if (r.isNullAt(11)) None else Some(r.getLong(11))))).toMap
    assert(got.keySet === Set("c1", "c2", "c3", "c7", "c7~f", "c9"))
    // exactly-at-threshold echo rate drops (strict <)
    assert(got("c1") === ((false, false, None, true, 2L, Some(500000L),
      false, false, None, None, None)))
    assert(got("c2") === ((false, false, None, true, 1L, Some(1000000L),
      false, false, None, None, None)))
    // selected pool packs by (n_tokens DESC, conv_num): c7(25), c3(9), c9(3)
    assert(got("c7") === ((false, true, Some("c7~f"), true, 1L, Some(0L),
      true, true, Some(25L), Some(0L), Some(0L))))
    assert(got("c3") === ((false, false, None, true, 1L, Some(0L),
      true, true, Some(9L), Some(0L), Some(25L))))
    // the retry twin loses the canonical-is-min rule; its fork has no
    // assistant turn → no echo signal, but dedup already dropped it
    assert(got("c7~f") === ((true, true, Some("c7"), false, 0L, None,
      true, false, None, None, None)))
    // too short to fingerprint + no assistant: no signals, kept and packed
    assert(got("c9") === ((false, false, None, true, 0L, None,
      true, true, Some(3L), Some(0L), Some(34L))))
    assert(TranscriptOps.transcriptPipeline(pipeCorpus.repartition(5))
      .collect().toSeq === TranscriptOps.transcriptPipeline(pipeCorpus).collect().toSeq)
  }

  test("transcriptPipeline: non-injective or null pack keys fail loudly") {
    // 'a12' and 'b12' collide under the default digit key; a digit-less id
    // maps to NULL — both must name the offender, never corrupt the packs
    val collide = turns(
      ("a12", 1, "user", "x1 x2 x3"), ("a12", 2, "assistant", "y1 y2"),
      ("b12", 1, "user", "z1 z2 z3"), ("b12", 2, "assistant", "w1 w2"))
    val e1 = intercept[IllegalArgumentException](
      TranscriptOps.transcriptPipeline(collide, forkMod = 0L).collect())
    assert(e1.getMessage.contains("collide on key 12"), e1.getMessage)
    val nod = turns(("nodigits", 1, "user", "x1 x2 x3"))
    val e2 = intercept[IllegalArgumentException](
      TranscriptOps.transcriptPipeline(nod, forkMod = 0L).collect())
    assert(e2.getMessage.contains("maps to NULL"), e2.getMessage)
  }

  test("transcriptPipeline: a dropped conv sharing a selected conv's key gets no pack") {
    // 'doc7' and 'conv7' both map to key 7; the key only has to be
    // injective over the selected pool, and doc7 is dropped (full echo)
    val collide = turns(
      ("conv7", 1, "user", "f1 f2 f3"), ("conv7", 2, "assistant", "g1 g2 g3 g4"),
      ("doc7", 1, "user", "e1 e2 e3"), ("doc7", 2, "assistant", "e1 e2 e3"))
    val got = TranscriptOps.transcriptPipeline(collide, forkMod = 0L)
      .selectExpr("conv_id", "selected", "pack_id", "pack_offset").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1),
        Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got === Map(
      "conv7" -> ((true, Some(0L), Some(0L))),
      "doc7" -> ((false, None, None))))
  }

  test("transcriptPipeline: a conversation with no role is selected but never packed") {
    // role-less turns carry no rendered-turn tokens, so the conversation
    // has nothing to pack: selected, with NULL n_tokens and pack coordinates
    val t = turns(
      ("c3", 1, "user", "f1 f2 f3"), ("c3", 2, "assistant", "g1 g2 g3 g4"),
      ("r5", 1, null, "q1 q2 q3"), ("r5", 2, null, "a1 a2"))
    val got = TranscriptOps.transcriptPipeline(t, forkMod = 0L)
      .selectExpr("conv_id", "selected", "n_tokens", "pack_id", "pack_offset").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got === Map(
      "c3" -> ((true, Some(9L), Some(0L), Some(0L))),
      "r5" -> ((true, None, None, None))))
  }

  test("transcriptPipeline equals the composition of its public stages") {
    // the generator corpus (150 convs): dedup columns must match convDedup,
    // echo columns must match the echoDetect rollup, pack coordinates must
    // match packByTokens over the selected pool — the ccnetPipeline
    // composition-equality discipline, transcript-flavored
    import spark.implicits._
    val t = graft.gen.SyntheticTranscripts.turns(spark, 150L).toDF()
    val got = TranscriptOps.transcriptPipeline(t).collect()
    val dd = TranscriptOps.convDedup(t).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(6), Option(r.getString(5))))).toMap
    val echo = TranscriptOps.echoDetect(t).collect()
      .groupBy(_.getString(0))
      .view.mapValues { rows =>
        val n = rows.length.toLong
        (n, rows.count(_.getBoolean(4)).toLong * 1000000L / n)
      }.toMap
    got.foreach { r =>
      val id = r.getString(0)
      if (!id.endsWith("~f")) {
        // dedup columns agree with the standalone operator (same forks)
        dd.get(id).foreach { case (isDup, dupOf) =>
          assert(r.getBoolean(2) === isDup, id)
          assert(Option(r.getString(3)) === dupOf, id)
        }
        // echo columns agree with the standalone rollup
        echo.get(id) match {
          case Some((n, ppm)) =>
            assert(r.getLong(5) === n, id)
            assert(r.getLong(6) === ppm, id)
          case None => assert(r.getLong(5) === 0L && r.isNullAt(6), id)
        }
      }
    }
    // pack coordinates: offsets of the selected pool are disjoint shelf
    // slots — re-derive via packByTokens on the selected (n_tokens, key)
    val sel = got.filter(_.getBoolean(8))
    assert(sel.nonEmpty && got.exists(!_.getBoolean(8)))
    def key(id: String): Long = {
      val base = "[0-9]+".r.findFirstIn(id).get.toLong
      if (id.endsWith("~f")) base + 1000000000L else base
    }
    val packs = graft.ops.DocTextOps.packByTokens(
      sel.map(r => (r.getLong(9), key(r.getString(0))))
        .toSeq.toDF("n_tokens", "doc_id"))
      .select("doc_id", "pack_id", "pack_offset").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    sel.foreach { r =>
      assert(packs(key(r.getString(0))) === ((r.getLong(10), r.getLong(11))), r.getString(0))
    }
  }

  // --- prefPairs -----------------------------------------------------------
  // h32 % PrefForkMod: pB, pC, pD → 0 (forked); pA → 1, pE/pF → 3,
  // pY/pZ → 2 (clean). Rewrite class h32(id:rw) % 2: pD → 0 (self-repeat),
  // pB/pC → 1 (enrichment).
  private val prefCorpus = turns(
    ("pD", 1, "user", "d1 d2"),
    ("pD", 2, "assistant", "m m n"), //   2/3 = 666666; twin doubles → 333333
    ("pD", 3, "user", "trailing"), //     after the response → not in prompt
    ("pB", 1, "user", "b1"),
    ("pB", 2, "tool", "t out"), //        tool turn IS part of the prompt
    ("pB", 3, "assistant", "k k"), //     1/2 = 500000; twin enriches → 5/6 = 833333
    ("pC", 1, "user", "c1"),
    ("pC", 2, "assistant", "k l"), //     already all-distinct → enrich ties at 1e6
    ("pE", 1, "user", "shared prompt"),
    ("pE", 2, "assistant", "a b c"), //   natural group with pF: 1e6 wins
    ("pF", 1, "user", "shared prompt"),
    ("pF", 2, "assistant", "a a"), //     500000 loses
    ("pA", 1, "user", "solo prompt"),
    ("pA", 2, "assistant", "only rollout"), // group of 1 → no pair row
    ("pY", 1, "assistant", "c c d"), //   cold open: prompt '' groups pY+pZ
    ("pZ", 1, "assistant", "e f"),
    ("noas", 1, "user", "no assistant turn")) // excluded entirely

  test("prefPairs: retry forks and natural groups rank by type-token ratio") {
    val got = TranscriptOps.prefPairs(prefCorpus).collect()
      .map(r => r.getString(2) -> ((r.getLong(1), r.getString(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    assert(got.size === 5)
    // self-repeat twin halves the ratio → the original is chosen
    assert(got("pD") === ((2L, "pD~r", 666666L, 333333L, 333333L, false)))
    // enrichment twin beats a repetitive original → the retry is chosen
    assert(got("pB~r") === ((2L, "pB", 833333L, 500000L, 333333L, true)))
    // all-distinct original ties its enrichment twin at 1e6: deterministic
    // pair, chosen = lexically smallest conv, margin 0
    assert(got("pC") === ((2L, "pC~r", 1000000L, 1000000L, 0L, false)))
    // natural rollout group (no forks): identical prompt, ranked responses
    assert(got("pE") === ((2L, "pF", 1000000L, 500000L, 500000L, false)))
    // cold-open rollouts group on the empty prompt
    assert(got("pZ") === ((2L, "pY", 1000000L, 666666L, 333334L, false)))
  }

  test("lenBuckets: pow2 bucket tops, floor-mean waste, global pad-to-max row") {
    // rendered token counts (1 + whitespace tokens): "a b" → 3, "a b c" → 4,
    // "a b c d e f g" → 8 (exact power of two stays in its own bucket)
    val d = turns(
      ("c1", 1, "user", "a b"), //            conv 3 tokens → bucket 4
      ("c2", 1, "user", "a b c"), //          conv 4 tokens → bucket 4 (exact pow2)
      ("c3", 1, "user", "a b c d e f g")) //  conv 8 tokens → bucket 8 (exact pow2)
    val got = TranscriptOps.lenBuckets(d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.size === 3)
    // bucket 4: seqs {3,4} → sum 7, mean floor 3, waste (4-3)*1e6/4
    assert(got(("bucket", 4L)) === ((2L, 7L, 8L, 250000L)))
    // bucket 8: exactly full → zero waste
    assert(got(("bucket", 8L)) === ((1L, 8L, 8L, 0L)))
    // global: pad everything to 8 → mean floor 15/3 = 5, waste 3/8
    assert(got(("global", 8L)) === ((3L, 15L, 24L, 375000L)))
    assert(TranscriptOps.lenBuckets(d.repartition(5)).collect().toSeq ===
      TranscriptOps.lenBuckets(d).collect().toSeq)
  }

  test("prefPairs: forkMod = 0 is production mode; partition-invariant") {
    val got = TranscriptOps.prefPairs(prefCorpus, forkMod = 0L).collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    assert(got === Set(("pE", "pF"), ("pZ", "pY"))) // only the natural groups
    val base = TranscriptOps.prefPairs(prefCorpus).collect().toSeq
    assert(TranscriptOps.prefPairs(prefCorpus.repartition(7)).collect().toSeq === base)
  }
}
