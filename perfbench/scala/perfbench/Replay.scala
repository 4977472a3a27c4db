package perfbench

import graft.core.{RedactionParams, Turn}
import graft.sketch.CountMin
import graft.text.{Normalize, Redact}

/** Single-threaded replay of a fixed sample of a workload's turns through
  * the public functions of `text` and `sketch`, in the order the stream's
  * session update calls them. Gives per-turn costs no Spark metric can
  * separate. */
object Replay {
  def run(sample: Seq[Turn], budgetMs: Double = 400): Map[String, Double] = {
    val p = RedactionParams()
    val bySession = sample.groupBy(_.conv_id).values.toSeq
    var redacted = 0
    val reps = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val t0 = Clock.ms
    while (reps.size < 3 || (Clock.ms - t0 < budgetMs && reps.size < 50)) {
      var tNorm = 0L; var tUpd = 0L; var tCodec = 0L; var tRed = 0L
      redacted = 0
      bySession.foreach { turns =>
        val sk = CountMin.empty(p.sketchDepth, p.sketchWidth)
        var learned = Set.empty[String]
        turns.foreach { t =>
          val a = System.nanoTime()
          val low = if (t.text == null) null else t.text.toLowerCase(java.util.Locale.ROOT)
          val sentences = Normalize.normalizedSentencesLow(low)
            .filter(_.length >= p.minSentenceLen).distinct
          val hs = Normalize.shingleHashes(Normalize.tokensLow(low), p.shingleK)
          val b = System.nanoTime()
          sentences.foreach(s => if (sk.addAndCount("s:" + s) >= p.threshold) learned += s)
          java.util.Arrays.sort(hs)
          var i = 0
          while (i < hs.length) {
            if (i == 0 || hs(i) != hs(i - 1)) sk.addHash(hs(i), 1L)
            i += 1
          }
          val c = System.nanoTime()
          tNorm += b - a; tUpd += c - b
        }
        val c0 = System.nanoTime()
        val (idx, vals, kind) = CountMin.toSparse(sk)
        val back = CountMin.fromSparse(p.sketchDepth, p.sketchWidth, idx, vals, sk.total, kind)
        val c1 = System.nanoTime()
        tCodec += c1 - c0
        turns.foreach { t =>
          val r = Redact.redactFull(t.text, t.role, learned,
            (h: Long) => back.estimateHash(h) >= p.shingleThreshold, p)
          if (r != t.text) redacted += 1
        }
        tRed += System.nanoTime() - c1
      }
      val n = sample.size.toDouble
      reps += Array(tNorm / n, tUpd / n, tCodec / bySession.size.toDouble, tRed / n)
    }
    def med(i: Int) = Stats.median(reps.toSeq.map(_(i)))
    Map("text.normalize_ns_per_turn" -> med(0), "sketch.update_ns_per_turn" -> med(1),
      "sketch.codec_ns_per_session" -> med(2), "text.redact_ns_per_turn" -> med(3),
      "text.redacted_share" -> redacted.toDouble / sample.size)
  }
}
