package graft.extract

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{NS, RdfTriple}

/** One document's triples as `UTF8String` terms with rdflib's set
  * semantics: a triple the doc already has is dropped as it arrives. One
  * buffer serves every doc of a task; [[reset]] starts the next doc and
  * [[span]] the next span's triples.
  *
  * Two spans can emit the same triple only when they are in the same dedup
  * group ([[SpanProcessor]]: both name spans, or both mapped to the same
  * predicate local name), and one span never emits a triple twice. So a
  * triple is compared only with the earlier spans' triples of its group,
  * through a per-group chain, and a span whose group is new to the doc
  * compares nothing: no hashing, no per-triple lookup. */
final class DocTriples(groups: Int) {
  private var cap = 64
  private var subj = new Array[UTF8String](cap)
  private var pred = new Array[UTF8String](cap)
  private var obj = new Array[UTF8String](cap)
  private var isUri = new Array[Boolean](cap)
  private var lang = new Array[UTF8String](cap)
  private var datatype = new Array[UTF8String](cap)
  // the previous triple of the same group, -1 at a group's first triple
  private var prev = new Array[Int](cap)
  // each group's latest triple, -1 before its first
  private val last = new Array[Int](groups)
  private var n = 0
  private var group = 0
  private var spanStart = 0

  private var docId: UTF8String = _
  private var subject0: UTF8String = _

  /** The doc's subject `wp:<doc_id>`, encoded once per doc. */
  def subject: UTF8String = subject0

  def size: Int = n

  def reset(id: UTF8String): Unit = {
    java.util.Arrays.fill(last, -1)
    n = 0
    docId = id
    subject0 = UTF8String.concat(DocTriples.DataNs, id)
  }

  /** The next triples are one span's, of dedup group `g`. */
  def span(g: Int): Unit = { group = g; spanStart = n }

  def uri(s: UTF8String, p: UTF8String, o: UTF8String): Unit = add(s, p, o, true, null, null)

  def literal(s: UTF8String, p: UTF8String, o: UTF8String,
              lang: UTF8String = null, datatype: UTF8String = null): Unit =
    add(s, p, o, false, lang, datatype)

  /** Adds the triple unless an earlier span of its group emitted it. */
  def add(s: UTF8String, p: UTF8String, o: UTF8String, u: Boolean,
          l: UTF8String, d: UTF8String): Unit = {
    var j = last(group)
    while (j >= 0) {
      if (j < spanStart && isUri(j) == u && obj(j) == o && subj(j) == s && pred(j) == p &&
        lang(j) == l && datatype(j) == d) return
      j = prev(j)
    }
    if (n == cap) grow()
    subj(n) = s; pred(n) = p; obj(n) = o; isUri(n) = u; lang(n) = l; datatype(n) = d
    prev(n) = last(group)
    last(group) = n
    n += 1
  }

  /** Triple `i` as a row of the [[RdfTriple]] schema. */
  def row(i: Int): InternalRow =
    new GenericInternalRow(Array[Any](subj(i), pred(i), obj(i), isUri(i), lang(i), datatype(i), docId))

  private def grow(): Unit = {
    cap *= 2
    subj = java.util.Arrays.copyOf(subj, cap)
    pred = java.util.Arrays.copyOf(pred, cap)
    obj = java.util.Arrays.copyOf(obj, cap)
    isUri = java.util.Arrays.copyOf(isUri, cap)
    lang = java.util.Arrays.copyOf(lang, cap)
    datatype = java.util.Arrays.copyOf(datatype, cap)
    prev = java.util.Arrays.copyOf(prev, cap)
  }
}

object DocTriples {
  private val DataNs = UTF8String.fromString(NS.DATA)
}
