package graft.query

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.util.SplitMix64

/** The posting store's invariants, pure Scala (no Spark jobs): resident
  * bytes within capacity, least-recently-used eviction, distinct
  * (term, positions) keys, df-0 entries, one capacity and one LRU order
  * across postings, doc values and term vectors, and the same under
  * concurrent lookups and inserts. A randomized run is checked against a small list
  * model of the LRU order. */
class PostingStoreSpec extends AnyFunSuite {
  import PostingStore.{Entry, Key}

  private def entry(df: Long, bytes: Long): Entry =
    Entry(df, bytes, Array.empty[SegmentRead])

  /** `n` keys drawn with replacement. */
  private def draw(rng: SplitMix64, keys: Seq[Key], n: Int): Seq[Key] =
    Seq.fill(n)(keys(rng.nextInt(keys.size)))

  test("random inserts and lookups match an LRU model within capacity") {
    for (seed <- 1L to 40L) {
      val rng = new SplitMix64(seed)
      val capacity = 1L + rng.nextInt(400)
      val store = new PostingStore(capacity)
      // the model: (key, bytes), least recently used first
      var model = Vector.empty[(Key, Long)]
      var evictions = 0L
      def touch(k: Key): Unit = model.find(_._1 == k).foreach { e =>
        model = model.filterNot(_._1 == k) :+ e
      }
      val keys = (0 until 12).flatMap(i => Seq((s"t$i", false), (s"t$i", true)))
      (0 until 300).foreach { _ =>
        if (rng.nextInt(3) == 0) {
          val q = draw(rng, keys, 1 + rng.nextInt(4))
          val hit = q.forall(k => model.exists(_._1 == k))
          q.foreach(touch)
          assert(store.lookup(q).isDefined == hit)
        } else {
          val k = keys(rng.nextInt(keys.size))
          val bytes = rng.nextInt((capacity * 3 / 2 + 1).toInt).toLong
          store.insert(k, entry(1L, bytes))
          if (bytes <= capacity) {
            model = model.filterNot(_._1 == k) :+ (k -> bytes)
            while (model.map(_._2).sum > capacity) { model = model.tail; evictions += 1 }
          }
        }
        val c = store.counters
        assert(c.residentBytes <= capacity, s"seed $seed: $c over $capacity")
        assert(c.residentBytes == model.map(_._2).sum && c.entries == model.size &&
          c.evictions == evictions, s"seed $seed: $c vs model $model")
      }
    }
  }

  test("eviction takes the least recently used entry") {
    val store = new PostingStore(30L)
    Seq("a", "b", "c").foreach(t => store.insert((t, false), entry(1L, 10L)))
    assert(store.lookup(Seq(("a", false))).isDefined)
    store.insert(("d", false), entry(1L, 10L))
    assert(store.lookup(Seq(("b", false))).isEmpty)
    assert(store.lookup(Seq(("a", false), ("c", false), ("d", false))).isDefined)
    // an entry over the capacity never enters, and evicts nothing
    store.insert(("e", false), entry(1L, 31L))
    assert(store.lookup(Seq(("e", false))).isEmpty)
    val c = store.counters
    assert(c.entries == 3 && c.residentBytes == 30L && c.evictions == 1, c)
    assert(c.hits == 2 && c.misses == 2, c)
  }

  test("a term with and without positions is two entries") {
    val store = new PostingStore(100L)
    store.insert(("t", false), entry(5L, 10L))
    assert(store.lookup(Seq(("t", true))).isEmpty)
    store.insert(("t", true), entry(5L, 20L))
    assert(store.lookup(Seq(("t", false))).get.map(_.bytes) == Seq(10L))
    assert(store.lookup(Seq(("t", true))).get.map(_.bytes) == Seq(20L))
    assert(store.counters.residentBytes == 30L)
  }

  test("a term with no postings is a df-0 entry; a store without capacity holds nothing") {
    val store = new PostingStore(10L)
    store.insert(("absent", false), entry(0L, 0L))
    assert(store.lookup(Seq(("absent", false))).get.map(_.df) == Seq(0L))
    for (capacity <- Seq(0L, -1L)) {
      val none = new PostingStore(capacity)
      none.insert(("absent", false), entry(0L, 0L))
      none.insert(("t", false), entry(1L, 1L))
      assert(none.counters.entries == 0)
    }
  }

  test("postings, doc values and term vectors share one capacity and one LRU order") {
    import PostingStore.{DocValues, TermVector}
    val field = org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)
    def docValues(bytes: Long) = DocValues(Array(1L, 2L), Array("en", null), field, bytes)
    def vector(bytes: Long) = TermVector(Array(("a", 2L, 5L), ("b", 1L, 9L)), 3L, bytes)
    val store = new PostingStore(30L)
    store.insert(("a", false), entry(1L, 10L))
    store.insert("lang", docValues(10L))
    store.insert(7L, vector(10L))
    val full = store.counters
    assert(full.residentBytes == 30L && full.entries == 3 && full.postingBytes == 10L &&
      full.docValueBytes == 10L && full.termVectorBytes == 10L, full)
    assert(store.termVector(7L).exists(tv =>
      tv.rows.toSeq == Seq(("a", 2L, 5L), ("b", 1L, 9L)) && tv.dl == 3L))
    assert(store.termVector(8L).isEmpty)
    // touch the postings: the doc values are now the least recently used,
    // then the vector of doc 7
    assert(store.lookup(Seq(("a", false))).isDefined)
    store.insert(8L, vector(10L))
    assert(store.docValues("lang").isEmpty && store.docValues("url").isEmpty)
    // a 20-byte vector evicts the least recent two: the vector of doc 7,
    // then the postings (read after it, but before doc 8's vector entered)
    store.insert(9L, vector(20L))
    assert(store.termVector(7L).isEmpty && store.lookup(Seq(("a", false))).isEmpty &&
      store.termVector(8L).isDefined)
    val c = store.counters
    assert(c.residentBytes == 30L && c.entries == 2 && c.termVectorBytes == 30L &&
      c.postingBytes + c.docValueBytes == 0L && c.evictions == 3, c)
    // an entry of any kind over the capacity never enters, and evicts
    // nothing
    store.insert("url", docValues(31L))
    store.insert(10L, vector(31L))
    assert(store.docValues("url").isEmpty && store.termVector(10L).isEmpty &&
      store.counters.entries == 2 && store.counters.evictions == 3)
    // a store without capacity holds no kind
    val none = new PostingStore(0L)
    none.insert(("a", false), entry(1L, 1L))
    none.insert("lang", docValues(1L))
    none.insert(7L, vector(1L))
    assert(none.counters.entries == 0)
  }

  test("term vectors share the capacity and the LRU order with postings and doc values") {
    import PostingStore.{DocValues, TermVector}
    val field = org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)
    def vector(bytes: Long) = TermVector(Array(("a", 2L, 5L), ("b", 1L, 9L)), 3L, bytes)
    val store = new PostingStore(30L)
    store.insert(("a", false), entry(1L, 10L))
    store.insert("lang", DocValues(Array(1L), Array("en"), field, 10L))
    store.insert(7L, vector(10L))
    assert(store.termVector(7L).isDefined && store.termVector(8L).isEmpty)
    // touch the postings: the doc values are the least recently used
    assert(store.lookup(Seq(("a", false))).isDefined)
    store.insert(8L, vector(10L))
    assert(store.docValues("lang").isEmpty)
    // reading doc 7's vector makes it the most recent, so a 20-byte vector
    // evicts the postings and then doc 8's vector
    assert(store.termVector(7L).isDefined)
    store.insert(9L, vector(20L))
    assert(store.lookup(Seq(("a", false))).isEmpty && store.termVector(8L).isEmpty &&
      store.termVector(7L).isDefined && store.termVector(9L).isDefined)
    val c = store.counters
    assert(c.residentBytes == 30L && c.entries == 2 && c.termVectorBytes == 30L &&
      c.postingBytes + c.docValueBytes == 0L && c.evictions == 3, c)
    // a doc's vector inserted again replaces the old one in place: its
    // bytes count once and nothing is evicted
    store.insert(7L, TermVector(Array(("c", 1L, 0L)), 1L, 10L))
    assert(store.termVector(7L).exists(tv => tv.rows.toSeq == Seq(("c", 1L, 0L)) &&
      tv.dl == 1L))
    val r = store.counters
    assert(r.residentBytes == 30L && r.entries == 2 && r.evictions == 3, r)
  }

  test("4 threads of concurrent lookups and inserts keep the invariants") {
    val capacity = 500L
    val store = new PostingStore(capacity)
    val keys = (0 until 40).flatMap(i => Seq((s"t$i", false), (s"t$i", true)))
    // a key's size is fixed, so the resident set determines the bytes
    def bytesOf(k: Key): Long = (k._1.drop(1).toInt * 7 + (if (k._2) 3 else 0)) % 90L
    val (threads, ops) = (4, 5000)
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val lookups = new java.util.concurrent.atomic.AtomicLong()
    val overs = new java.util.concurrent.atomic.AtomicLong()
    val done = (0 until threads).map { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val rng = new SplitMix64(100L + th)
          (0 until ops).foreach { _ =>
            if (rng.nextInt(2) == 0) {
              store.lookup(draw(rng, keys, 1 + rng.nextInt(3)))
              lookups.incrementAndGet()
            } else {
              val k = keys(rng.nextInt(keys.size))
              store.insert(k, entry(1L, bytesOf(k)))
            }
            if (store.counters.residentBytes > capacity) overs.incrementAndGet()
          }
        }
      })
    }
    start.countDown()
    done.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(overs.get == 0)
    val c = store.counters
    assert(c.hits + c.misses == lookups.get)
    val resident = keys.filter(k => store.lookup(Seq(k)).isDefined)
    assert(resident.size == c.entries && resident.map(bytesOf).sum == c.residentBytes)
    assert(c.residentBytes <= capacity)
  }
}
