package graft.graph

import org.apache.spark.sql.Row

/** The graph fixpoint loops on primitive arrays, for running a whole loop
  * inside ONE Spark task. [[GraphOps]] takes this path when a loop's
  * derived shuffle width is 1 (the Pregelix idea: pick each loop's
  * physical plan from the size of its data): a round then costs a few
  * passes over a CSR adjacency instead of ~5 Spark jobs of planning and
  * scheduling.
  *
  * Each loop reproduces its dataflow twin row for row:
  *   - the same long arithmetic, failing on overflow as ANSI `+`, `*` and
  *     `sum` do (`Math.addExact` / `multiplyExact`);
  *   - edge rows are a multiset — a duplicate row counts twice, as it does
  *     in the dataflow's joins and counts;
  *   - the same halt rule and round count.
  * Endpoint ids and weights must be non-null: every producer writes them
  * from `id` columns and literals, and the dataflow gives nulls there no
  * meaning. */
private[graph] object TaskLoops {

  /** Edge rows over dense node indices: node `i` is `ids(i)` (ascending),
    * its out-edge rows sit at `off(i) until off(i + 1)` in `dst` (and `w`
    * when weighted). Duplicate edge rows stay duplicates. */
  private final class Csr(val ids: Array[Long], val off: Array[Int],
      val dst: Array[Int], val w: Array[Long]) {
    def n: Int = ids.length
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** A growable primitive long array. */
  private final class Longs {
    var a = new Array[Long](16)
    var size = 0
    def +=(x: Long): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = x; size += 1
    }
    def result: Array[Long] = java.util.Arrays.copyOf(a, size)
  }

  private def long(row: Row, i: Int): Long = {
    require(!row.isNullAt(i), "graph loop input has a null endpoint id or weight")
    row.getLong(i)
  }

  /** Reads (src, dst[, w]) rows into a CSR whose node universe also holds
    * `extra` (anchors, label-frame nodes — they may have no edges). */
  private def csr(rows: Iterator[Row], weighted: Boolean,
      extra: Array[Long]): Csr = {
    val (src, dst, w) = (new Longs, new Longs, new Longs)
    rows.foreach { r =>
      src += long(r, 0); dst += long(r, 1)
      if (weighted) w += long(r, 2)
    }
    build(src.result, dst.result, if (weighted) w.result else null, extra)
  }

  /** `all` sorted ascending without repeats (sorts `all` in place). */
  private def sortedDistinct(all: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices)
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
    java.util.Arrays.copyOf(all, n)
  }

  private def build(src: Array[Long], dst: Array[Long], w: Array[Long],
      extra: Array[Long]): Csr = {
    val ids = sortedDistinct(Array.concat(src, dst, extra))
    val n = ids.length
    def index(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val si = src.map(index)
    val off = new Array[Int](n + 1)
    si.foreach(s => off(s + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val next = java.util.Arrays.copyOf(off, n)
    val d = new Array[Int](src.length)
    val ww = if (w == null) null else new Array[Long](src.length)
    for (e <- src.indices) {
      val p = next(si(e))
      d(p) = index(dst(e))
      if (ww != null) ww(p) = w(e)
      next(si(e)) = p + 1
    }
    new Csr(ids, off, d, ww)
  }

  /** A dense scratch vector over node indices that remembers the entries
    * a round touched, so a round costs what it touches, not |V|. */
  private final class Scratch(n: Int) {
    val v = new Array[Long](n)
    val has = new Array[Boolean](n)
    val touched = new Array[Int](n)
    var size = 0
    private def first(i: Int, x: Long): Unit = {
      has(i) = true; v(i) = x; touched(size) = i; size += 1
    }
    def sum(i: Int, x: Long): Unit =
      if (has(i)) v(i) = Math.addExact(v(i), x) else first(i, x)
    def min(i: Int, x: Long): Unit =
      if (has(i)) { if (x < v(i)) v(i) = x } else first(i, x)
    def keys: Array[Int] = java.util.Arrays.copyOf(touched, size)
    def clear(): Unit = {
      for (j <- 0 until size) has(touched(j)) = false
      size = 0
    }
  }

  /** The converged batch PPR walk over (src, dst) rows: (qid, node, r)
    * rows and the round count. Rank rows per anchor; an anchor listed m
    * times starts as m rank rows and teleports m times, as the dataflow's
    * anchor frame does.
    * A round's share is `((r div deg) * 85) div 100`; the batch halts on
    * the first round in which every anchor's rank rows equal the previous
    * round's (the full-outer mismatch probe: same keys, same values).
    * With `maxRounds = iters` it is also the fixed-round walk: a round
    * applied to a fixpoint is a no-op, so halting early changes no row. */
  def pprConverged(edges: Iterator[Row], anchors: Array[Long], scale: Long,
      maxRounds: Int): (Iterator[Row], Int) = {
    val g = csr(edges, weighted = false, anchors)
    val qids = anchors.distinct
    val listed = anchors.groupMapReduce(identity)(_ => 1)(_ + _)
    val mult = qids.map(listed)
    val home = qids.map(g.index)
    val teleport = scale * 15 / 100
    val nodes = Array.tabulate(qids.length)(q => Array.fill(mult(q))(home(q)))
    val ranks = Array.tabulate(qids.length)(q => Array.fill(mult(q))(scale))
    val acc = new Scratch(g.n)
    val seen = new Array[Boolean](g.n)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      converged = true
      for (q <- qids.indices) {
        val (ns, rs) = (nodes(q), ranks(q))
        for (j <- ns.indices) {
          val u = ns(j)
          val deg = g.off(u + 1) - g.off(u)
          if (deg > 0) {
            val share = Math.multiplyExact(rs(j) / deg, 85L) / 100
            for (e <- g.off(u) until g.off(u + 1)) acc.sum(g.dst(e), share)
          }
        }
        for (_ <- 0 until mult(q)) acc.sum(home(q), teleport)
        // the probe: every previous row keeps its key and value, and no
        // key is new
        var same = true
        var oldKeys = 0
        for (j <- ns.indices) {
          val u = ns(j)
          if (!seen(u)) { seen(u) = true; oldKeys += 1 }
          if (!acc.has(u) || acc.v(u) <= 0 || acc.v(u) != rs(j)) same = false
        }
        ns.foreach(seen(_) = false)
        val kept = acc.keys.filter(acc.v(_) > 0)
        if (kept.length != oldKeys) same = false
        nodes(q) = kept
        ranks(q) = kept.map(acc.v)
        acc.clear()
        converged &&= same
      }
      rounds += 1
    }
    val rows = qids.indices.iterator.flatMap(q =>
      nodes(q).indices.iterator.map(j =>
        Row(qids(q), g.ids(nodes(q)(j)), ranks(q)(j))))
    (rows, rounds)
  }

  /** Weighted SSSP over (src, dst, w) rows by synchronous relax rounds
    * from the frontier (the nodes a round improved): (node, dist) rows and
    * the round count. Halts when a round improves nothing or after
    * `maxRounds` rounds — the converged form's rule, and the bounded
    * form's answer too, since a node that did not improve re-offers only
    * candidates it already gave. */
  def sssp(edges: Iterator[Row], anchor: Long,
      maxRounds: Int): (Iterator[Row], Int) = {
    val g = csr(edges, weighted = true, Array(anchor))
    val dist = new Array[Long](g.n)
    val reached = new Array[Boolean](g.n)
    val a = g.index(anchor)
    reached(a) = true
    var frontier = Array(a)
    val cand = new Scratch(g.n)
    var rounds = 0
    while (rounds < maxRounds && frontier.nonEmpty) {
      for (u <- frontier; e <- g.off(u) until g.off(u + 1))
        cand.min(g.dst(e), Math.addExact(dist(u), g.w(e)))
      frontier = cand.keys.filter(v => !reached(v) || cand.v(v) < dist(v))
      frontier.foreach { v => dist(v) = cand.v(v); reached(v) = true }
      cand.clear()
      rounds += 1
    }
    val rows = g.ids.indices.iterator.filter(reached)
      .map(i => Row(g.ids(i), dist(i)))
    (rows, rounds)
  }

  /** Synchronous LPA over (src, dst, is_node) rows — the edge rows plus
    * the label frame's node rows (src = dst = node): (node, label) rows.
    * A node listed m times in the frame holds m label rows. Per round
    * every src with an edge into the frame takes the most frequent label
    * over those edges (ties to the smallest) as one row; other rows stay.
    * A dst outside the frame counts for nothing, as the inner join drops
    * it. */
  def lpa(rows: Iterator[Row], iters: Int): Iterator[Row] = {
    val (src, dst, nodes) = (new Longs, new Longs, new Longs)
    rows.foreach { r =>
      if (r.getBoolean(2)) nodes += long(r, 0)
      else { src += long(r, 0); dst += long(r, 1) }
    }
    val frame = nodes.result
    val g = build(src.result, dst.result, null, frame)
    var label = g.ids.clone()
    var mult = new Array[Int](g.n)
    frame.foreach(id => mult(g.index(id)) += 1)
    val buf = new Longs
    for (_ <- 1 to iters) {
      val (nl, nm) = (label.clone(), mult.clone())
      for (s <- 0 until g.n) {
        buf.size = 0
        for (e <- g.off(s) until g.off(s + 1); _ <- 0 until mult(g.dst(e)))
          buf += label(g.dst(e))
        if (buf.size > 0) {
          java.util.Arrays.sort(buf.a, 0, buf.size)
          var best = buf.a(0)
          var bestRun = 0
          var i = 0
          while (i < buf.size) {
            var j = i
            while (j < buf.size && buf.a(j) == buf.a(i)) j += 1
            if (j - i > bestRun) { best = buf.a(i); bestRun = j - i }
            i = j
          }
          nl(s) = best; nm(s) = 1
        }
      }
      label = nl; mult = nm
    }
    g.ids.indices.iterator.flatMap(i =>
      Iterator.fill(mult(i))(Row(g.ids(i), label(i))))
  }

  /** Bounded k-core peeling over (src, dst) rows: (id, deg) rows of the
    * surviving edge rows' srcs. Per round a node survives when it is a src
    * of ≥ k edge rows (a node that is no src has no degree row, whatever k
    * is), and an edge row survives when both endpoints do. */
  def kCore(edges: Iterator[Row], k: Int, rounds: Int): Iterator[Row] = {
    val g = csr(edges, weighted = false, Array.empty)
    val alive = Array.fill(g.dst.length)(true)
    val deg = new Array[Long](g.n)
    def degrees(): Unit = for (s <- 0 until g.n)
      deg(s) = (g.off(s) until g.off(s + 1)).count(alive).toLong
    def survives(i: Int): Boolean = deg(i) > 0 && deg(i) >= k
    for (_ <- 1 to rounds) {
      degrees()
      for (s <- 0 until g.n; e <- g.off(s) until g.off(s + 1))
        alive(e) = alive(e) && survives(s) && survives(g.dst(e))
    }
    degrees()
    g.ids.indices.iterator.filter(deg(_) > 0).map(i => Row(g.ids(i), deg(i)))
  }

  /** Connected components of the similarity star over (id, key_1 … key_n)
    * rows: a row links its id to its group's — the rows with equal keys,
    * none of them null, as the equi-join that finds a group's hub
    * requires; a row with a null key only adds its vertex. One (id,
    * component) row per distinct id, in id order, the component being the
    * smallest id it reaches — GraphX's labelling over
    * [[GraphOps.similarityGraph]]. Each group is linked as a star around
    * its first row (the min-id hub gives the same components), then a
    * union-find whose roots are the smallest dense index (= smallest id,
    * the indices being id-ordered). */
  def components(rows: Iterator[Row]): Iterator[Row] = {
    val (src, dst) = (new Longs, new Longs)
    val first = new java.util.HashMap[Seq[Any], java.lang.Long]
    rows.foreach { r =>
      val id = long(r, 0)
      val key = (1 until r.length).map(r.get)
      val hub = if (key.contains(null)) id else first.computeIfAbsent(key, _ => id).longValue
      src += id; dst += hub
    }
    val g = build(src.result, dst.result, null, Array.empty)
    val root = Array.tabulate(g.n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (root(r) != r) r = root(r)
      var j = i
      while (root(j) != r) { val next = root(j); root(j) = r; j = next }
      r
    }
    for (s <- 0 until g.n; e <- g.off(s) until g.off(s + 1)) {
      val (a, b) = (find(s), find(g.dst(e)))
      if (a < b) root(b) = a else if (b < a) root(a) = b
    }
    g.ids.indices.iterator.map(i => Row(g.ids(i), g.ids(find(i))))
  }

  /** The capped rule adjacency over (id, k_1 … k_r) rows — a student and
    * its `r` normalized rule keys, "" where it has none: the (src, dst)
    * rows [[GraphOps.cappedAdjacency]] computes, the cap smallest distinct
    * neighbors per node. As its dataflow does, per rule and per non-empty
    * key it takes the cap+1 smallest id ROWS of the key group (a
    * duplicated student row holds two slots; a null id sorts first and
    * holds a slot but pairs with nothing), pairs every member with them
    * minus itself, drops duplicate pairs and keeps the cap smallest dsts
    * per src. Pairs are dense id ranks packed into one long (src high,
    * dst low), so one primitive sort orders them by (src, dst). */
  def cappedAdjacency(rows: Iterator[Row], rules: Int, cap: Int): Iterator[Row] = {
    val id = new Longs
    val isNull = new java.util.BitSet
    val keys = Array.fill(rules)(Array.newBuilder[String])
    rows.foreach { r =>
      if (r.isNullAt(0)) isNull.set(id.size)
      id += (if (r.isNullAt(0)) 0L else r.getLong(0))
      for (j <- 0 until rules) keys(j) += r.getString(j + 1)
    }
    val n = id.size
    val present = new Longs
    for (i <- 0 until n if !isNull.get(i)) present += id.a(i)
    val ids = sortedDistinct(present.result)
    // 1-based ranks; 0 is a null id, first in ascending order
    val rank = Array.tabulate(n)(i =>
      if (isNull.get(i)) 0 else java.util.Arrays.binarySearch(ids, id.a(i)) + 1)
    val low = 0xffffffffL
    val pairs = new Longs
    val members = new Longs
    for (j <- 0 until rules) {
      val k = keys(j).result()
      val group = new java.util.HashMap[String, Integer]
      members.size = 0
      for (i <- 0 until n if k(i) != null && k(i).nonEmpty) {
        val g = group.computeIfAbsent(k(i), _ => group.size)
        members += (g.toLong << 32) | rank(i)
      }
      java.util.Arrays.sort(members.a, 0, members.size)
      var a = 0
      while (a < members.size) {
        var b = a
        while (b < members.size && (members.a(b) >>> 32) == (members.a(a) >>> 32))
          b += 1
        val tops = math.min(b, a + cap + 1)
        for (m <- a until b; t <- a until tops) {
          val (s, d) = (members.a(m) & low, members.a(t) & low)
          if (s != 0 && d != 0 && s != d) pairs += (s << 32) | d
        }
        a = b
      }
    }
    java.util.Arrays.sort(pairs.a, 0, pairs.size)
    val out = new Longs
    var kept = 0
    for (i <- 0 until pairs.size) {
      val p = pairs.a(i)
      val first = i == 0 || (pairs.a(i - 1) >>> 32) != (p >>> 32)
      if (first) kept = 0
      if ((i == 0 || pairs.a(i - 1) != p) && kept < cap) {
        out += p; kept += 1
      }
    }
    (0 until out.size).iterator.map { i =>
      val p = out.a(i)
      Row(ids((p >>> 32).toInt - 1), ids((p & low).toInt - 1))
    }
  }
}
