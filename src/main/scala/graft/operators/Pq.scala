package graft.operators

import graft.functions.{Cols, Par, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product quantization (PQ) for embedding columns — the memory-side
  * complement of [[Similarity.ivfKnn]]'s inverted file and
  * [[Quantize]]'s int8 path, and the third leg of the large-corpus ANN
  * stack (FAISS-style IVF/PQ, Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). The 64-dim float32 vector
  * (256 B) is split into `m` subvectors; each subvector is quantized to
  * the id of its nearest centroid in a per-subspace codebook of `ksub`
  * entries, so the whole vector compresses to `m` small ints (4 B at
  * the default m=4 — a 64× reduction). Queries never decompress the
  * corpus: asymmetric distance computation (ADC) scores a candidate by
  * summing, per subspace, the precomputed distance from the query's
  * subvector to the candidate's codeword.
  *
  * Everything is deterministic and oracle-matchable, mirroring
  * [[Similarity.kmeansFixed]]'s conventions:
  *  - codebook seeds are the `ksub` corpus vectors with the smallest
  *    (md5-prefix hash of id, id), sliced per subspace — no RNG;
  *  - `rounds` Lloyd passes per subspace with argmin squared-L2
  *    assignment (ties to the lowest cell id) and FIXED-POINT centroid
  *    means ([[Cols.fxSum]], scale 1e9 — order-independent, exact);
  *  - ADC distances are quantized to 1e-9 ([[Cols.fxTerm]]) so the
  *    per-candidate sum over subspaces is exact integer arithmetic —
  *    rank order cannot depend on float addition order.
  *
  * Scale shape: training is `rounds` × (ONE narrow per-subspace
  * [[graft.expressions.NearestCells]] argmin projection — the m·ksub
  * codebook is bounded and driver-resident, so assignment has no join,
  * no window and no exchange — + a (sub, cell, dim) hash-agg whose
  * bounded m·ksub·dsub result paces the next round). Encoding is the
  * same narrow argmin pass. ADC joins the corpus
  * code table (m small ints per vector — the entire point at 100 TB)
  * against a broadcast distance table of nq·m·ksub rows, then top-k via
  * the shared bounded-heap aggregate. No O(n²) anywhere; the corpus is
  * touched twice (train+encode) and queries never meet raw corpus
  * vectors.
  */
object Pq {

  /** Sequential-fold squared-L2 distance between a float subvector and
    * a double codeword — bit-matches the oracle's
    * `list_sum(list_transform(range(..), i -> (CAST(a[i] AS DOUBLE) -
    * b[i]) * (CAST(a[i] AS DOUBLE) - b[i])))`.
    */
  private[operators] def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b,
        (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Explode each vector into (vid, sub, sv) subvector rows. */
  private def subvecs(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, dsub: Int): DataFrame =
    df.select(col(idCol).as("vid"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub"),
            slice(col(vecCol), s * dsub + 1, dsub).as("sv"))): _*))
          .as("e"))
      .select(col("vid"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Train the per-subspace codebooks AND encode the corpus in one
    * flow. Returns (codebooks(sub, cell, cv: array<double>),
    * codes(vid, sub, code)) — `codes` is the compressed corpus, the
    * artifact a production pipeline persists.
    */
  def pqModel(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, ksub: Int = 16, rounds: Int = 2,
              dims: Int = 64): (DataFrame, DataFrame) = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims: m=$m dims=$dims")
    require(ksub >= 1 && ksub <= 4096,
      s"ksub must be in [1, 4096], got $ksub")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16], got $rounds")
    val dsub = dims / m
    val spark = emb.sparkSession
    import spark.implicits._
    // ksub whole seed vectors by (hash, id) — TakeOrdered, bounded —
    // sliced into one seed codeword per subspace
    val seedRows = emb
      .select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .withColumn("h", TextFns.hash32(col("sid").cast("string")))
      .orderBy(col("h"), col("sid")).limit(ksub)
      .select(col("sv")).collect()
    // element type may be float OR double; read through Number so an
    // array<double> vecCol doesn't throw an opaque ClassCastException
    var cents: Seq[Seq[(Long, IndexedSeq[Double])]] =
      (0 until m).map { s =>
        seedRows.zipWithIndex.map { case (r, c) =>
          val v = r.getSeq[Number](0).map(_.doubleValue())
          (c.toLong, v.slice(s * dsub, (s + 1) * dsub).toIndexedSeq)
        }.toSeq
      }
    val vs = subvecs(Par.fanOut(emb), idCol, vecCol, m, dsub)
    // assignment = ONE narrow per-subspace NearestCells projection
    // (r14: replaces the broadcast join + per-(vector, subspace)
    // row_number window, which shuffled |corpus| × m × ksub
    // subvector-carrying rows per round); same sequential-fold
    // squared-L2, same (d2 ASC, cell ASC) argmin.
    def assign(cb: Seq[Seq[(Long, IndexedSeq[Double])]]): DataFrame =
      vs.select(col("vid"), col("sub"), col("sv"),
          element_at(graft.expressions.NearestCells.bySub(
            col("sub"), col("sv"), cb, 1, bySqDist = true), 1)
            .getField("cell").cast("int").as("cell"))
        .select(col("vid"), col("sub"), col("cell"), col("sv"))
    var assigned = assign(cents)
    (2 to rounds).foreach { _ =>
      // per-round recompute: (sub, cell, dim) fixed-point means —
      // m × ksub × dsub rows, collected to the driver (bounded:
      // ≤ 4096 × dims) to pace the next round, the kmeansFixed
      // pattern.
      val meanRows = assigned
        .select(col("sub"), col("cell"),
          posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("sub"), col("cell"), col("i"))
        .agg(Cols.fxSum(col("x").cast(DoubleType), 1e9).as("q"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("cell"), col("i"),
          (Cols.fxVal(col("q"), 1e9) / col("n").cast(DoubleType)).as("mc"))
        .collect()
      cents = (0 until m).map { s =>
        meanRows.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toSeq
          .map { case (cell, rs) =>
            (cell.toLong,
              rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq)
          }.sortBy(_._1)
      }
      assigned = assign(cents)
    }
    val centsDf = cents.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cell, cv) => (s, cell.toInt, cv) }
    }.toDF("sub", "cell", "cv")
    (centsDf,
      assigned.select(col("vid"), col("sub"), col("cell").as("code")))
  }

  /** Encode a NEW batch of vectors under EXISTING codebooks — the
    * PQ half of the incremental-ingestion contract
    * ([[Similarity.ivfAppend]]'s analog): codebooks stay FIXED
    * (retraining would silently re-map every stored code), the
    * returned `(vid, sub, code)` rows append onto the persisted code
    * table. One broadcast join of the m·ksub codebook + a per-
    * (vector, subspace) argmin window — |batch| × m rows, the corpus
    * never re-read. Encoding the training corpus under its own
    * codebooks reproduces [[pqModel]]'s codes exactly (spec-pinned),
    * so appended and originally-encoded codes are indistinguishable.
    */
  def pqEncode(codebooks: DataFrame, batch: DataFrame, idCol: String,
               vecCol: String, m: Int = 4, dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims: m=$m dims=$dims")
    val dsub = dims / m
    // the m·ksub codebook is bounded — collect it once and encode in
    // ONE narrow NearestCells projection (r14: replaces the broadcast
    // join + per-(vector, subspace) argmin window; same squared-L2,
    // same tie rule)
    val rows = codebooks
      .select(col("sub").cast("int"), col("cell").cast("long"),
        col("cv")).collect()
    val cb: Seq[Seq[(Long, IndexedSeq[Double])]] = (0 until m).map { s =>
      rows.filter(_.getInt(0) == s)
        .map(r => (r.getLong(1),
          r.getSeq[Number](2).map(_.doubleValue()).toIndexedSeq))
        .sortBy(_._1).toSeq
    }
    val vs = subvecs(Par.fanOut(batch), idCol, vecCol, m, dsub)
    // try_element_at (r15, advice hardening): a sub with no codebook
    // rows makes NearestCells return an EMPTY array, and under Spark
    // 4's default ANSI mode a plain element_at(empty, 1) throws before
    // the isNotNull filter can emulate the inner join the projection
    // replaced — try_element_at yields null instead, so the filter
    // drops the row exactly like that join did
    vs.select(col("vid"), col("sub"),
        try_element_at(graft.expressions.NearestCells.bySub(
          col("sub"), col("sv"), cb, 1, bySqDist = true), lit(1))
          .getField("cell").cast("int").as("code"))
      .filter(col("code").isNotNull)
  }

  /** ADC top-k of a NEW batch against a PERSISTED IVF+PQ index — the
    * serving probe of the incremental stack: coarse centroids
    * ([[Similarity.IvfIndexFrames]], built once + [[Similarity
    * .ivfAppend]]-grown), PQ `codebooks` (frozen) and the appended
    * `codes(vid, sub, code)` table ([[pqModel]] + [[pqEncode]]).
    * Candidates come from the batch's `nProbe` nearest cells via the
    * postings equi-join; integer-exact ADC ranks only those — no raw
    * corpus vector is touched at probe time, the FAISS IVFADC shape
    * with the index living as plain parquet-able DataFrames. Output:
    * (query_id, neighbor_id, rank, adist), ascending approximate
    * squared-L2 like [[pqKnn]]; self-pairs excluded.
    * The IVF index's `centroids.cell` must be byte/short/int/long: a
    * `DecimalType(p,0)` (or any non-integral) cell id is rejected
    * upfront by [[Similarity.collectCents]].
    */
  def ivfPqAgainstIndex(ivf: Similarity.IvfIndexFrames,
                        codebooks: DataFrame, codes: DataFrame,
                        batch: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 4, m: Int = 4,
                        dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims: m=$m dims=$dims")
    val dsub = dims / m
    val probes = Similarity.assignCells(ivf.centroids, batch, idCol,
      vecCol, "query_id", "qv", nProbe)
    val cand = ivf.postings.select(col("neighbor_id"), col("cell"))
      .join(broadcast(probes.select(col("query_id"), col("cell"))),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val dtable = subvecs(batch, idCol, vecCol, m, dsub)
      .withColumnRenamed("vid", "query_id")
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        Cols.fxTerm(sqDist(col("sv"), col("cv")), 1e9).as("dfx"))
    val scored = cand
      .join(codes.withColumnRenamed("vid", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dfx")).as("afx"))
      .select(col("query_id"), col("neighbor_id"),
        (-col("afx")).cast(DoubleType).as("cosine"))
    Similarity.topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        ((-col("cosine")) / 1e9).as("adist"))
  }

  /** The compressed corpus as scalar rows: (id, sub, code) — the
    * hash-checkable shape of the stored artifact.
    */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, ksub: Int = 16, rounds: Int = 2,
              dims: Int = 64): DataFrame = {
    val (_, codes) = pqModel(emb, idCol, vecCol, m, ksub, rounds, dims)
    codes.select(col("vid").as(idCol), col("sub"), col("code"))
  }

  /** ADC top-k over the PQ-compressed corpus: for each query,
    * (neighbor_id, rank, adist) with adist the sum over subspaces of
    * the squared-L2 from the query subvector to the neighbor's
    * codeword (ascending = nearest). Ranks tie-break by neighbor id;
    * queries drawn from the corpus never match themselves.
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame,
            idCol: String, vecCol: String, k: Int,
            m: Int = 4, ksub: Int = 16, rounds: Int = 2,
            dims: Int = 64): DataFrame = {
    pqAdc(corpus, queries, idCol, vecCol, k, m, ksub, rounds, dims)
  }

  private def pqAdc(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    m: Int, ksub: Int, rounds: Int,
                    dims: Int): DataFrame = {
    val (cents, codes) = pqModel(corpus, idCol, vecCol, m, ksub, rounds,
      dims)
    val dsub = dims / m
    // distance table: nq × m × ksub rows — tiny, broadcast
    val dtable = subvecs(queries, idCol, vecCol, m, dsub)
      .withColumnRenamed("vid", "query_id")
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        Cols.fxTerm(sqDist(col("sv"), col("cv")), 1e9).as("dfx"))
    val scored = codes
      .join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(col("dfx")).as("afx")) // exact integer ADC sum
      .filter(col("query_id") =!= col("vid"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        (-col("afx")).cast(DoubleType).as("cosine")) // heap ranks desc
    Similarity.topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        ((-col("cosine")) / 1e9).as("adist"))
  }

  /** Production serving shape: ADC shortlists `shortlist` candidates
    * per query from the compressed corpus, then EXACT cosine re-ranks
    * only the shortlist against raw vectors — the FAISS
    * search-then-refine pattern. The expensive float math touches
    * `shortlist` rows per query instead of the corpus; the compressed
    * scan does the winnowing. Output matches [[Similarity.bruteKnn]]:
    * (query_id, neighbor_id, rank, cosine).
    */
  def pqKnnRerank(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  shortlist: Int = 64,
                  m: Int = 4, ksub: Int = 16, rounds: Int = 2,
                  dims: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = pqAdc(corpus, queries, idCol, vecCol, shortlist,
        m, ksub, rounds, dims)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"))
    val scored = cand
      .join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        graft.functions.VectorFns.cosine(col("__qv"), col("__cv")))
    Similarity.topK(scored, k)
  }

  /** IVF + PQ composed — the FAISS IVFADC architecture, the shape a
    * 100 TB vector corpus actually serves from: a coarse quantizer
    * ([[Similarity.ivfKnn]]'s Voronoi cells) bounds each query's
    * candidate set to its `nProbe` nearest cells, and ADC over the
    * PQ codes ranks ONLY those candidates. Per-query cost is
    * |corpus|·nProbe/cells table lookups of m integers — no raw
    * vector is touched after indexing. (This variant quantizes raw
    * vectors, not per-cell residuals; the oracle-exact integer ADC is
    * the same either way.) Output: (query_id, neighbor_id, rank,
    * adist), ascending approximate squared-L2 like [[pqKnn]].
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               cells: Int = 16, nProbe: Int = 4,
               m: Int = 4, ksub: Int = 16, rounds: Int = 2,
               dims: Int = 64): DataFrame = {
    // coarse cells: first `cells` vectors by id seed the Voronoi
    // partition (the oracle-reproducible ivfKnn configuration); the
    // bounded seed table is driver-collected and assignment is one
    // narrow NearestCells projection (r14 — no join, no window)
    val seedCents = corpus.orderBy(col(idCol)).limit(cells)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq))
      .sortBy(_._1).toSeq
    def assign(df: DataFrame, id: String, keep: Int) =
      df.select(col(idCol).as(id), col(vecCol).as("__v"))
        .select(col(id),
          explode(graft.expressions.NearestCells.single(
            col("__v"), seedCents, keep, bySqDist = false)).as("__c"))
        .select(col(id), col("__c.cell").as("__cell0"))
    val corpusCells = assign(Par.fanOut(corpus), "neighbor_id", 1)
    val queryProbes = assign(queries, "query_id", nProbe)
    val cand = corpusCells.join(broadcast(queryProbes), Seq("__cell0"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val (cents, codes) = pqModel(corpus, idCol, vecCol, m, ksub,
      rounds, dims)
    val dsub = dims / m
    val dtable = subvecs(queries, idCol, vecCol, m, dsub)
      .withColumnRenamed("vid", "query_id")
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        Cols.fxTerm(sqDist(col("sv"), col("cv")), 1e9).as("dfx"))
    val scored = cand
      .join(codes.withColumnRenamed("vid", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dfx")).as("afx"))
      .select(col("query_id"), col("neighbor_id"),
        (-col("afx")).cast(DoubleType).as("cosine"))
    Similarity.topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        ((-col("cosine")) / 1e9).as("adist"))
  }
}
