package perfbench

import java.util.Locale

import org.apache.spark.api.java.Optional

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

import graft.core.{Defaults, RedactionParams, Turn}
import graft.gen.{GenSpec, TranscriptGen}
import graft.operators.Validation
import graft.sketch.CountMin
import graft.stream.{ConvState, Pipeline}
import graft.text.{Normalize, Oracle, Redact}

/** Single-thread passes over a corpus sample that time the engine's
  * per-turn layers through their public functions: text normalization and
  * redaction, the count-min sketch, and the stateful update function. */
object Layers {
  private val SampleTurns = 20000

  def run(spec: GenSpec, r: RunResult): Unit = {
    val p = RedactionParams()
    val convs = Iterator.from(0)
      .map(c => TranscriptGen.turnsFor(c.toLong, spec).filter(Validation.isValidTurn))
      .take(spec.nConvs)
    val sample = scala.collection.mutable.ArrayBuffer.empty[Seq[Turn]]
    var n = 0
    while (convs.hasNext && n < SampleTurns) { val c = convs.next(); sample += c; n += c.size }
    val turns = sample.flatten.toIndexedSeq
    val sessions = sample.flatMap(Oracle.sessionize(_)).toIndexedSeq

    // best of three passes: the first ones warm the JIT
    def nsPerTurn(body: => Unit): Double =
      (1 to 3).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }
        .min / turns.size

    r.layers("text.normalize_ns_per_turn") = Figure(nsPerTurn {
      turns.foreach { t =>
        val low = t.text.toLowerCase(Locale.ROOT)
        Normalize.normalizedSentencesLow(low)
        Normalize.shingleHashes(Normalize.tokensLow(low), p.shingleK)
      }
    }, "ns", turns.size)

    val learned = sessions.map(s => (s, Oracle.learnedOf(s, p), Oracle.hotShinglesOf(s, p)))
    var redacted = 0L
    r.layers("text.redact_ns_per_turn") = Figure(nsPerTurn {
      redacted = 0L
      learned.foreach { case (s, l, hot) =>
        s.foreach { t =>
          if (Redact.redactFull(t.text, t.role, l, hot.contains(_), p) != t.text) redacted += 1
        }
      }
    }, "ns", turns.size)
    r.layers("text.redacted_share") = Figure(redacted.toDouble / turns.size, "ratio", turns.size)

    // the sketch keys of each turn, derived outside the timed loop
    val keys = sessions.map(_.map { t =>
      val low = t.text.toLowerCase(Locale.ROOT)
      val sent = Normalize.normalizedSentencesLow(low).filter(_.length >= p.minSentenceLen)
        .distinct.map("s:" + _)
      (sent, Normalize.shingleHashes(Normalize.tokensLow(low), p.shingleK).distinct)
    })
    var entries = 0L
    r.layers("sketch.update_ns_per_turn") = Figure(nsPerTurn {
      entries = 0L
      keys.foreach { s =>
        val sk = CountMin.empty(p.sketchDepth, p.sketchWidth)
        s.foreach { case (sent, hs) =>
          sent.foreach(sk.addAndCount(_))
          hs.foreach(sk.addHash(_, 1L))
        }
        entries += CountMin.toSparse(sk)._1.length
      }
    }, "ns", turns.size)
    r.layers("sketch.sparse_entries_per_session") =
      Figure(entries.toDouble / sessions.size, "count", sessions.size)

    val update = Pipeline.updateConv(p, Defaults.SessionGapSec * 1000L) _
    r.layers("stream.update_ns_per_turn") = Figure(nsPerTurn {
      sample.foreach { conv =>
        val st = TestGroupState.create[ConvState](Optional.empty[ConvState](),
          GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
        update(conv.head.conv_id, conv.iterator, st).foreach(_ => ())
        if (st.exists) {
          val closing = TestGroupState.create[ConvState](Optional.of(st.get),
            GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(Long.MaxValue / 2), true)
          update(conv.head.conv_id, Iterator.empty, closing).foreach(_ => ())
        }
      }
    }, "ns", turns.size)
  }
}
