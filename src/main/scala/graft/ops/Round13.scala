package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-13 session-4 operators.
  *
  * j53 — product quantization (PQ) ANN: the embedding-compression scale
  * path BEYOND j26's int8. int8 keeps 1 byte/dim; PQ keeps ~1 byte per
  * SUBSPACE (here 64 dims → 4 codes), because each vector is replaced by
  * its nearest-centroid id in M=4 disjoint 16-dim subspaces (Jégou et
  * al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
  * the index format behind FAISS IVF-PQ). Query-time distance is ADC
  * (asymmetric distance computation): one 16-row lookup table of
  * probe-to-centroid distances per subspace, then every candidate's
  * distance is M table lookups + adds — no float vector math per
  * candidate at all.
  *
  * EXACTNESS DEVICE (what makes a k-means loop hash-checkable): all
  * arithmetic after one explicit quantization step (×1e6, half-up — the
  * j26 device) happens in INTEGER domain. Distances are integer sums
  * (order-free), centroid updates are integer floor-divisions (made
  * portable by subtracting the positive remainder first, since Spark's
  * `div` truncates while DuckDB's `//` floors), argmin ties break on
  * centroid id. The DuckDB oracle unrolls the identical init + 2 Lloyd
  * rounds + encode + ADC (the j48 unrolled-loop precedent), so the
  * TRAINING is hash-checked, not just the final ranking. Seeds are the 4
  * vectors of smallest md5(vec_id) — the j44 cross-engine hash device.
  *
  * The graded read path is ADC-shortlist-then-EXACT-rerank — the shape
  * FAISS serves with: ADC ranks a 50-candidate shortlist from codes
  * alone, then the true (integer) distances are computed for those 50
  * full vectors only, and the top-10 of that re-rank is the answer.
  * MEASURED geometry choice (DuckDB harness over the sf0.001 fixture,
  * recall of the exact top-10 inside the shortlist): M=4/K=4 collapses
  * (0-1/10 — with 16-dim subspaces and 4 cells the ADC estimate is all
  * quantization noise on this isotropic corpus); M=8/K=16 reaches 5/10;
  * M=16/K=16 (4-dim subspaces) reaches 8/10 at shortlist 50 — recorded
  * negative: more centroids at coarse M (M=8/K=32) did NOT close the
  * gap; finer SUBSPACES did. M=16/K=16 is also still a real index: 16
  * 4-bit codes = 8 bytes/vector vs 256 float bytes (32×).
  *
  * At 100 TB: training runs on a sample (here: the corpus; the sample is
  * a knob), encode is one broadcast join against the 256 centroid rows —
  * map-only, scan speed. The ADC probe touches the (vec_id, m, cid) code
  * relation only; full vectors are fetched for the 50 shortlisted ids,
  * never scanned.
  */
object Round13 {

  private val M = 16      // subspaces
  private val SubDim = 4  // dims per subspace (16 × 4 = the 64-dim fixture)
  private val K = 16      // centroids per subspace
  private val Dim = M * SubDim
  private val CoarseK = 8 // IVF cells (j54)
  // Shortlist/Nprobe are the ORACLE-DEFAULT values of the runtime knobs
  // spark.graft.pq.shortlist / spark.graft.ivf.nprobe (Knobs) — the two
  // recall/cost dials an operator retunes per corpus; KnobsSpec pins that
  // at their limits both ANN keys emit exactly the true top-10
  private val Shortlist = 50
  private val Nprobe = 2

  /** Portable exact integer floor division: make the numerator exactly
    * divisible first, so Spark `div` (truncates) and DuckDB `//` (floors)
    * agree for negative sums too. */
  private def floorDiv(a: String, n: String) =
    s"(($a) - ((($a) % ($n)) + ($n)) % ($n)) div ($n)"

  /** Exact integer squared L2 over two bigint arrays (fold order fixed by
    * the array — and irrelevant anyway: integer adds commute exactly). */
  private def sqDist(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)"

  /** Quantized full vectors (vec_id, qv[64]): the ONE float→int step;
    * everything after is exact. */
  private def quantized(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), expr(
      // saturating quantizer (LlmOps.cleanCoordSql — ONE clamp
      // convention with the Column sites): NaN->0, |x| capped at 100 so
      // |q| <= 1e8 and the int64 squared distances can never overflow
      // (r20 pathological sweep: +-1e30/NaN vectors); a NULL element
      // stays NULL through floor/cast exactly as before the clamp
      "transform(embedding, x -> cast(floor(" +
        LlmOps.cleanCoordSql("x") +
        " * 1000000.0 + 0.5) as bigint))")
      .as("qv"))

  /** Subvector relation (vec_id, m, sv[subdim]) of any (vec_id, qv)
    * relation — m=1/subdim=dim degenerates to the whole vector, which is
    * how the coarse quantizer reuses the same machinery (k-means IS PQ
    * with one subspace). */
  private def subRelOf(qvRel: DataFrame, m: Int, subdim: Int): DataFrame =
    qvRel.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), mm -> " +
          s"struct(cast(mm as int) as m, slice(qv, mm * $subdim + 1, $subdim) as sv))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Assignment step: nearest centroid per (vec_id, m), ties to the
    * smaller cid. Centroids are ≤ M·K rows — always broadcast.
    *
    * The per-subspace centroids are collected into ONE broadcast array
    * row per m and the argmin runs IN-EXPRESSION (array_min over
    * struct(dist, cid)), so the assignment is MAP-ONLY: no K-way join
    * blowup and, decisively at scale, no corpus-sized shuffle per Lloyd
    * iteration (guide §2.4 "remove shuffles outright"). array_min uses
    * the interpreted struct ordering: least (dist, cid) wins and a NULL
    * dist sorts first. */
  private[graft] def lloydAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent.groupBy("m")
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cents"))
    sub.join(broadcast(centArr), "m")
      .select(col("vec_id"), col("m"),
        expr("array_min(transform(cents, cc -> struct(" +
          sqDist("sv", "cc.cv") + " as dist, cc.cid as cid)))").as("a"),
        col("sv"))
      .select(col("vec_id"), col("m"), col("a.cid").as("cid"), col("sv"))
  }

  /** Update step: per-dim integer floor-mean of the assigned subvectors;
    * empty centroids drop (both engines see the same memberships, so they
    * drop identically). */
  private def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("d", "v")))
      .groupBy("m", "cid", "d")
      .agg(sum("v").as("sv_sum"), count(lit(1)).as("n"))
      .select(col("m"), col("cid"), col("d"),
        expr(floorDiv("sv_sum", "n")).as("cv_d"))
      .groupBy("m", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(d, cv_d))), x -> x.cv_d)")
        .as("cv"))

  /** Train a codebook over any (vec_id, qv) relation: seeds are the k
    * vectors of smallest md5(vec_id), then 2 Lloyd rounds. Returns the
    * subvector relation and the trained (m, cid, cv) codebook. Centroid
    * relations are localCheckpoint()ed per round — m·k rows, trivial to
    * materialize, and it truncates the loop lineage (the j48 vocab
    * device). The seed pick is a global-window rank over the md5
    * ordering — bounded by the seed COUNT at any corpus size only when
    * run on a sample; here the corpus is the sample (see scaladoc). */
  private[graft] def trainCodebook(s: SparkSession, qvRel: DataFrame,
      m: Int, subdim: Int, k: Int): (DataFrame, DataFrame) = {
    val sub = subRelOf(qvRel, m, subdim).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.orderBy("h", "vec_id")
    val seeds = qvRel.select(col("vec_id"),
        expr("md5(cast(vec_id as string))").as("h"))
      .withColumn("cid", row_number().over(w) - 1)
      .where(col("cid") < k).drop("h")
    val c0 = seeds.join(sub, "vec_id")
      .select(col("m"), col("cid"), col("sv").as("cv")).localCheckpoint()
    val c1 = lloydUpdate(lloydAssign(sub, c0)).localCheckpoint()
    val c2 = lloydUpdate(lloydAssign(sub, c1)).localCheckpoint()
    (sub, c2)
  }

  /** j53's codebook: M×K over the quantized corpus. */
  private[graft] def pqTrain(s: SparkSession, d: String): (DataFrame, DataFrame) =
    trainCodebook(s, quantized(s, d), M, SubDim, K)

  /** Oracle text for one Lloyd round r (assign {pfx}aR over centroids
    * `prev`, update {pfx}uR) — generated so every round of every stage is
    * literally the same arithmetic, like the Spark side's shared
    * helpers. `subTable` is the (vec_id, m, sv) relation being
    * clustered; `subdim` its subvector width. */
  private def oracleRound(pfx: String, r: Int, prev: String,
      subTable: String, subdim: Int): String =
    s"""${pfx}a$r AS (SELECT vec_id, m, cid, sv FROM (
          SELECT sub.vec_id, sub.m, c.cid, sub.sv,
            row_number() OVER (PARTITION BY sub.vec_id, sub.m
              ORDER BY list_sum(list_transform(range(1, ${subdim + 1}),
                i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))), c.cid) AS rn
          FROM $subTable sub JOIN $prev c ON sub.m = c.m)
        WHERE rn = 1),
      ${pfx}u$r AS (SELECT m, cid, list(cv_d ORDER BY d) AS cv FROM (
          SELECT m, cid, d,
            (SUM(sv[d]) - ((SUM(sv[d]) % COUNT(*)) + COUNT(*)) % COUNT(*))
              // COUNT(*) AS cv_d
          FROM ${pfx}a$r, unnest(range(1, ${subdim + 1})) AS t(d)
          GROUP BY m, cid, d)
        GROUP BY m, cid)"""

  /** Oracle encode step: argmin assignment of `subTable` against trained
    * centroids `cent` (ties to the smaller cid). */
  private def oracleEncode(name: String, cent: String,
      subTable: String, subdim: Int): String =
    s"""$name AS (SELECT vec_id, m, cid FROM (
          SELECT sub.vec_id, sub.m, c.cid,
            row_number() OVER (PARTITION BY sub.vec_id, sub.m
              ORDER BY list_sum(list_transform(range(1, ${subdim + 1}),
                i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))), c.cid) AS rn
          FROM $subTable sub JOIN $cent c ON sub.m = c.m)
        WHERE rn = 1)"""

  /** Oracle seed pick: the k vectors of smallest md5(vec_id). */
  private def oracleSeeds(name: String, k: Int): String =
    s"""$name AS (SELECT vec_id, cid FROM (
          SELECT vec_id, row_number() OVER (
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
          FROM q)
        WHERE cid < $k)"""

  private val pqOracle: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        FROM embeddings),
      sub AS (SELECT vec_id, m, qv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sv
        FROM q, (SELECT unnest(range($M)) AS m) mm),
      ${oracleSeeds("seeds", K)},
      c0 AS (SELECT sub.m, s.cid, sub.sv AS cv
        FROM seeds s JOIN sub ON sub.vec_id = s.vec_id),
      ${oracleRound("", 1, "c0", "sub", SubDim)},
      ${oracleRound("", 2, "u1", "sub", SubDim)},
      ${oracleEncode("codes", "u2", "sub", SubDim)},
      probe AS (SELECT m, sv AS pv FROM sub WHERE vec_id = 0),
      lut AS (SELECT c.m, c.cid,
          list_sum(list_transform(range(1, ${SubDim + 1}),
            i -> (cv[i] - pv[i]) * (cv[i] - pv[i]))) AS pd
        FROM u2 c JOIN probe p ON c.m = p.m),
      short AS (SELECT codes.vec_id, CAST(SUM(pd) AS BIGINT) AS adc
        FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
        WHERE vec_id != 0
        GROUP BY codes.vec_id
        ORDER BY adc, vec_id LIMIT $Shortlist),
      pfull AS (SELECT qv AS pv FROM q WHERE vec_id = 0)
      SELECT s.vec_id,
        CAST(list_sum(list_transform(range(1, ${M * SubDim + 1}),
          i -> (qv[i] - pv[i]) * (qv[i] - pv[i]))) AS BIGINT) AS d2,
        s.adc
      FROM short s JOIN q ON s.vec_id = q.vec_id, pfull
      ORDER BY d2, s.vec_id LIMIT 10"""

  /** j54's oracle: coarse k-means (M=1 PQ) → cells, nprobe cells for the
    * probe, RESIDUAL fine PQ, per-cell ADC LUTs, shortlist, exact
    * re-rank. Every stage reuses the same generated round/encode/seed
    * blocks as j53's. */
  private val ivfpqOracle: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        FROM embeddings),
      csub AS (SELECT vec_id, 0 AS m, qv AS sv FROM q),
      ${oracleSeeds("cseeds", CoarseK)},
      cc0 AS (SELECT csub.m, s.cid, csub.sv AS cv
        FROM cseeds s JOIN csub ON csub.vec_id = s.vec_id),
      ${oracleRound("c", 1, "cc0", "csub", Dim)},
      ${oracleRound("c", 2, "cu1", "csub", Dim)},
      ${oracleEncode("cellsraw", "cu2", "csub", Dim)},
      cells AS (SELECT vec_id, cid AS cell FROM cellsraw),
      pq0 AS (SELECT qv FROM q WHERE vec_id = 0),
      pcells AS (SELECT cid AS pcell FROM (
          SELECT c.cid, row_number() OVER (ORDER BY
              list_sum(list_transform(range(1, ${Dim + 1}),
                i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))), c.cid) AS rn
          FROM cu2 c, pq0)
        WHERE rn <= $Nprobe),
      rq AS (SELECT q.vec_id, cells.cell,
          list_transform(range(1, ${Dim + 1}), i -> qv[i] - cv[i]) AS qv
        FROM q JOIN cells ON q.vec_id = cells.vec_id
          JOIN cu2 c ON cells.cell = c.cid),
      fsub AS (SELECT vec_id, m, qv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sv
        FROM rq, (SELECT unnest(range($M)) AS m) mm),
      ${oracleSeeds("fseeds", K)},
      fc0 AS (SELECT fsub.m, s.cid, fsub.sv AS cv
        FROM fseeds s JOIN fsub ON fsub.vec_id = s.vec_id),
      ${oracleRound("f", 1, "fc0", "fsub", SubDim)},
      ${oracleRound("f", 2, "fu1", "fsub", SubDim)},
      ${oracleEncode("codes", "fu2", "fsub", SubDim)},
      pr AS (SELECT c.cid AS cell,
          list_transform(range(1, ${Dim + 1}), i -> pq0.qv[i] - c.cv[i]) AS rv
        FROM cu2 c JOIN pcells ON c.cid = pcells.pcell, pq0),
      rpsub AS (SELECT cell, m, rv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS pv
        FROM pr, (SELECT unnest(range($M)) AS m) mm),
      lut AS (SELECT r.cell, c.m, c.cid,
          list_sum(list_transform(range(1, ${SubDim + 1}),
            i -> (cv[i] - pv[i]) * (cv[i] - pv[i]))) AS pd
        FROM fu2 c JOIN rpsub r ON c.m = r.m),
      short AS (SELECT codes.vec_id, CAST(SUM(pd) AS BIGINT) AS adc
        FROM codes
          JOIN cells ON codes.vec_id = cells.vec_id
          JOIN lut ON cells.cell = lut.cell
            AND codes.m = lut.m AND codes.cid = lut.cid
        WHERE codes.vec_id != 0
        GROUP BY codes.vec_id
        ORDER BY adc, codes.vec_id LIMIT $Shortlist),
      pfull AS (SELECT qv AS pv FROM q WHERE vec_id = 0)
      SELECT s.vec_id,
        CAST(list_sum(list_transform(range(1, ${Dim + 1}),
          i -> (qv[i] - pv[i]) * (qv[i] - pv[i]))) AS BIGINT) AS d2,
        s.adc
      FROM short s JOIN q ON s.vec_id = q.vec_id, pfull
      ORDER BY d2, s.vec_id LIMIT 10"""

  val all: Seq[Q] = Seq(

    // a31 — parquet BLOOM-FILTER point lookups: the needle-in-100 TB path
    // for HIGH-CARDINALITY keys in a layout with no useful sort order.
    // a20's min/max skipping needs the file/row-group ranges to be narrow
    // (range-sorted layout); a hash-distributed table — the layout every
    // shuffled write produces — has every row group spanning the full key
    // range, so min/max prunes nothing and a point predicate decodes the
    // whole table. Writing a parquet bloom filter on the key column
    // (parquet.bloom.filter.enabled#col) gives each row group a ~KB
    // membership sketch the reader consults BEFORE decoding: non-matching
    // groups are skipped at footer time, the same contract as min/max but
    // order-free. Dictionary encoding is disabled on the key to model the
    // 100 TB regime honestly — at real row-group sizes a high-cardinality
    // key blows the dictionary page limit and falls back to plain, taking
    // dictionary-based pruning with it; bloom is what remains (and is
    // exactly why Iceberg/Delta tables carry them). Result correctness is
    // layout-independent (the oracle reads the raw table);
    // RowGroupSkipSpec pins the measured skip vs a bloom-less twin.
    Q("a31_parquet_bloom",
      (s, d) => {
        val out = Scratch.unique("a31")
        t(s, d, "lineitem")
          .repartition(8, col("l_partkey")) // hash layout: no key locality
          .write.mode("overwrite")
          .option("parquet.enable.dictionary", "false")
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_orderkey", "1000000")
          .parquet(out)
        s.read.parquet(out).where(col("l_orderkey") === 7)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"), col("l_returnflag"),
            col("l_linestatus"), dateStr(col("l_shipdate")).as("ship_d"))
          .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "ship_d")
      },
      Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
          l_linestatus, strftime(l_shipdate, '%Y-%m-%d') AS ship_d
        FROM lineitem WHERE l_orderkey = 7
        ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
          l_quantity, l_extendedprice, ship_d""")),

    Q("j53_pq_ann",
      (s, d) => {
        val (sub, codebook) = pqTrain(s, d)
        val codes = lloydAssign(sub, codebook).select("vec_id", "m", "cid")
        val probe = sub.where(col("vec_id") === 0)
          .select(col("m"), col("sv").as("pv"))
        val lut = codebook.join(broadcast(probe), "m")
          .select(col("m"), col("cid"), expr(sqDist("cv", "pv")).as("pd"))
        val shortlist = codes.where(col("vec_id") =!= 0)
          .join(broadcast(lut), Seq("m", "cid"))
          .groupBy("vec_id").agg(sum("pd").as("adc"))
          .orderBy(asc("adc"), asc("vec_id")).limit(Knobs.pqShortlist(s))
        // exact re-rank: fetch the full quantized vectors for the 50
        // shortlisted ids only (broadcast join on the id) and emit the
        // true integer distances. The 1-row full-probe carrier is the
        // j3/j41 bounded broadcast (a constant-key equi spelling gets
        // constant-folded back to the same nested loop by Catalyst —
        // enumerated in PlanLint's allowlist).
        val pvFull = quantized(s, d).where(col("vec_id") === 0)
          .select(col("qv").as("pv"))
        quantized(s, d).join(broadcast(shortlist), "vec_id")
          .crossJoin(broadcast(pvFull))
          .select(col("vec_id"), expr(sqDist("qv", "pv")).as("d2"), col("adc"))
          .orderBy(asc("d2"), asc("vec_id")).limit(10)
      },
      Some(pqOracle)),

    // j54 — IVF-PQ (IVFADC, Jégou et al. §IV): j3d's inverted-file coarse
    // partitioning COMPOSED with j53's PQ, the index FAISS actually
    // serves billion-vector corpora with. Coarse k-means is j53's own
    // trainer run with ONE 64-dim subspace (k-means IS PQ at M=1) — 8
    // cells; every vector stores (cell, 16 fine codes) where the fine
    // codebook quantizes the RESIDUAL qv − cell_centroid (residuals are
    // exact integer subtractions here, so the whole cascade stays
    // hash-checkable). A probe visits its nprobe=2 nearest cells, builds
    // one per-cell ADC lookup table from ITS residual against each cell,
    // and scores only those cells' candidates — at 100 TB the cell id is
    // the partition key, a probe touches nprobe/k of the data (j3d's
    // property), and within the touched partitions reads 8-byte codes,
    // not vectors (j53's property). Exact re-rank of the 50-row
    // shortlist as in j53. The oracle unrolls BOTH trainings (coarse and
    // fine-over-residuals) from the shared generated blocks.
    // a33 — malformed-record handling at the JSON ingest edge: a32's
    // sibling with the JSON parser's DIFFERENT fault taxonomy, measured
    // and graded. Where CSV arity is structural (extra/missing tokens =
    // malformed), JSON is schema-on-read: a MISSING field is a clean
    // null, an EXTRA field is cleanly ignored, and only (i) broken
    // syntax and (ii) a type mismatch are faults — syntax nulls the
    // whole row into the corrupt capture, a type fault keeps the
    // already-parsed prefix fields AND captures (both measured here).
    // Fixture derives from customer with four deterministic classes:
    // %7 syntax-broken, %11 type fault, %5 missing cents (clean!),
    // %3 extra field (clean!) — so the oracle reproduces every count by
    // arithmetic, no JSON parser oracle-side.
    Q("a33_json_malformed_modes",
      (s, d) => {
        val dir = Scratch.unique("a33")
        val js = s"$dir/in"
        t(s, d, "customer").orderBy("c_custkey")
          .select(concat(
            lit("{\"id\": "), col("c_custkey"),
            lit(", \"name\": \""), col("c_name"), lit("\""),
            when(col("c_custkey") % 7 === 0, lit(", \"cents\": }"))
              .otherwise(concat(
                when(col("c_custkey") % 11 === 0, lit(", \"cents\": \"oops\""))
                  .when(col("c_custkey") % 5 === 0, lit(""))
                  .otherwise(concat(lit(", \"cents\": "),
                    expr("cast(cast(round(c_acctbal * 100) as bigint) as string)"))),
                when(col("c_custkey") % 3 === 0, lit(", \"extra\": 1"))
                  .otherwise(lit("")),
                lit("}"))))
            .as("value"))
          .coalesce(1).write.mode("overwrite").text(js)
        def read(mode: String, schema: String) = s.read
          .schema(schema).option("mode", mode)
          .option("columnNameOfCorruptRecord", "_corrupt").json(js)
        val perm = read("PERMISSIVE",
          "id LONG, name STRING, cents LONG, _corrupt STRING").select(
          lit("permissive").as("mode"),
          count(lit(1)).as("n_rows"),
          count(col("_corrupt")).as("n_corrupt"),
          count(col("cents")).as("n_cents"),
          sum(col("cents")).as("sum_cents"),
          count(col("name")).as("n_names"))
        val drop = read("DROPMALFORMED", "id LONG, name STRING, cents LONG")
          .select(
            lit("dropmalformed").as("mode"),
            count(lit(1)).as("n_rows"),
            lit(0L).as("n_corrupt"),
            count(col("cents")).as("n_cents"),
            sum(col("cents")).as("sum_cents"),
            count(col("name")).as("n_names"))
        perm.unionAll(drop).orderBy("mode")
      },
      Some("""WITH c AS (SELECT c_custkey AS k,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
            (c_custkey % 7 = 0) AS syn,
            (c_custkey % 7 != 0 AND c_custkey % 11 = 0) AS typ,
            (c_custkey % 7 != 0 AND c_custkey % 11 != 0
              AND c_custkey % 5 = 0) AS mis
          FROM customer),
        agg AS (SELECT
            CAST(COUNT(*) AS BIGINT) AS n_all,
            CAST(COUNT(*) FILTER (WHERE syn) AS BIGINT) AS n_syn,
            CAST(COUNT(*) FILTER (WHERE typ) AS BIGINT) AS n_typ,
            CAST(COUNT(*) FILTER (WHERE NOT syn AND NOT typ AND NOT mis)
              AS BIGINT) AS n_cents,
            CAST(SUM(cents) FILTER (WHERE NOT syn AND NOT typ AND NOT mis)
              AS BIGINT) AS sum_cents
          FROM c)
        SELECT 'dropmalformed' AS mode, n_all - n_syn - n_typ AS n_rows,
          CAST(0 AS BIGINT) AS n_corrupt, n_cents, sum_cents,
          n_all - n_syn - n_typ AS n_names FROM agg
        UNION ALL
        -- syntax faults null every field (name included); type faults
        -- keep the parsed prefix, so their names survive
        SELECT 'permissive' AS mode, n_all AS n_rows,
          n_syn + n_typ AS n_corrupt, n_cents, sum_cents,
          n_all - n_syn AS n_names FROM agg
        ORDER BY mode""")),

    // c16 — NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): ordinary
    // equality never matches NULL keys, so rows with unknown dimensions
    // silently vanish from an inner join — the classic dim-join leak.
    // The null-safe operator treats NULL as a joinable value (all
    // null-keyed facts meet all null-keyed dim rows), and Spark still
    // plans it as a HASH join (nulls form one hash group), not a
    // nested loop — asserted below by PlanLint's smell scan. Synthetic
    // nullable keys derive from customer/nation so the oracle (DuckDB's
    // IS NOT DISTINCT FROM) reproduces the match set exactly.
    Q("c16_join_nullsafe",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_custkey"),
          when(col("c_nationkey") % 5 === 0, lit(null).cast("int"))
            .otherwise(col("c_nationkey")).as("nk"))
        val n = t(s, d, "nation").select(
          when(col("n_nationkey") % 5 === 0, lit(null).cast("int"))
            .otherwise(col("n_nationkey")).as("nk2"), col("n_name"))
        c.join(n, col("nk") <=> col("nk2"))
          .groupBy(coalesce(col("n_name"), lit("<null-key>")).as("n_name"))
          .agg(count(lit(1)).as("n_cust"))
          .orderBy("n_name")
      },
      Some("""WITH c AS (SELECT c_custkey,
            CASE WHEN c_nationkey % 5 = 0 THEN NULL
                 ELSE c_nationkey END AS nk FROM customer),
        n AS (SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                 ELSE n_nationkey END AS nk2, n_name FROM nation)
        SELECT COALESCE(n.n_name, '<null-key>') AS n_name,
          CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM c JOIN n ON c.nk IS NOT DISTINCT FROM n.nk2
        GROUP BY COALESCE(n.n_name, '<null-key>')
        ORDER BY n_name""")),

    // b6 — the NOT IN null trap, pinned as an operator: under ANSI
    // three-valued logic `x NOT IN (subquery)` is UNKNOWN for every x
    // the moment the subquery yields a single NULL — the whole filter
    // returns EMPTY, silently. NOT EXISTS does not null-compare and
    // returns the true complement. Both engines implement the same ANSI
    // semantics, so the oracle runs the same pair of queries — the key
    // documents (and regression-pins) that this engine preserves the
    // standard's behavior rather than the intuitive one, the #1 silent
    // wrong-answer class in migrated warehouse SQL.
    Q("b6_not_in_null_trap",
      (s, d) => Views.unique(s, "b6_orders" -> t(s, d, "orders"),
          "b6_customer" -> t(s, d, "customer")) { v =>
        s.sql(s"""
          WITH sub AS (SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
                 ELSE c_custkey END AS k FROM ${v("b6_customer")})
          SELECT 'not_in' AS mode, CAST(COUNT(*) AS BIGINT) AS n
          FROM ${v("b6_orders")} WHERE o_custkey NOT IN (SELECT k FROM sub)
          UNION ALL
          SELECT 'not_exists' AS mode, CAST(COUNT(*) AS BIGINT) AS n
          FROM ${v("b6_orders")} o WHERE NOT EXISTS (
            SELECT 1 FROM sub WHERE sub.k = o.o_custkey)
          ORDER BY mode""")
      },
      Some("""WITH sub AS (SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
            ELSE c_custkey END AS k FROM customer)
        SELECT 'not_in' AS mode, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_custkey NOT IN (SELECT k FROM sub)
        UNION ALL
        SELECT 'not_exists' AS mode, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o WHERE NOT EXISTS (
          SELECT 1 FROM sub WHERE sub.k = o.o_custkey)
        ORDER BY mode""")),

    // d24 — theta-sketch SET ALGEBRA: the capability tier above the HLL
    // family (d19/d22/k12): HLL only unions, so j45 got intersections
    // from inclusion–exclusion; a theta sketch retains a hash sample, so
    // A∩B and A∖B are first-class sketch operations (functions/
    // Theta.scala — TypedImperativeAggregate over the same public
    // Datasketches library Spark's hll_sketch_agg wraps). The audience
    // overlap matrix: per-event-type distinct-user sketches built in ONE
    // corpus pass (partial-agg map-side), then every pairwise
    // intersection/difference/union — and the all-types union via
    // theta_union_agg — computed on the |types|-row sketch relation,
    // never the events (j45's scale shape with exact set semantics).
    // Exact-regime graded: 512-value fingerprint domain ≪ 2^lgK=4096, so
    // θ=1, every op is literal hash-set algebra, and the oracle's exact
    // DISTINCT joins hash-match. Past the bound the same pipeline
    // degrades to ±1.6%/√k estimates (spec-bounded, d7's grading).
    // a32 — malformed-record handling at the CSV ingest edge: the mode
    // surface every real file-drop pipeline exercises (PERMISSIVE with a
    // corrupt-record capture column vs DROPMALFORMED; FAILFAST is pinned
    // as the error path in Round13Spec). The fixture CSV derives from
    // customer with two deterministic fault classes — every 7th row
    // grows an EXTRA field (arity fault), every 11th carries non-numeric
    // text in a numeric column (type fault) — so the oracle reproduces
    // the clean/corrupt partition by ARITHMETIC, no CSV parser in the
    // oracle at all. Amounts travel as integer cents: float text round
    // trips are exactly the nondeterminism an ingest fixture must not
    // have. At 100 TB this is one map-only pass per mode; the corrupt
    // capture column is what routes bad rows to a quarantine sink
    // instead of silently dropping them.
    Q("a32_csv_malformed_modes",
      (s, d) => {
        val dir = Scratch.unique("a32")
        val csv = s"$dir/in"
        t(s, d, "customer")
          .orderBy("c_custkey")
          .select(concat(
            col("c_custkey"), lit(","), col("c_name"), lit(","),
            when(col("c_custkey") % 11 === 0, lit("oops"))
              // string branch FIRST would coerce the other side to BIGINT
              // under ANSI and throw on 'oops' — emit text explicitly
              .otherwise(expr("cast(cast(round(c_acctbal * 100) as bigint) as string)")),
            when(col("c_custkey") % 7 === 0, lit(",EXTRA")).otherwise(lit("")))
            .as("value"))
          .coalesce(1).write.mode("overwrite").text(csv)
        // the corrupt-capture column belongs to PERMISSIVE ONLY: outside
        // that mode it is read as a REGULAR 4th column, which makes the
        // arity-fault rows (4 tokens) parse as legitimate — measured:
        // DROPMALFORMED with the 4-column schema kept all 214 extra-field
        // rows, silently reclassifying the fault
        def read(mode: String, schema: String) = s.read
          .schema(schema).option("mode", mode)
          .option("columnNameOfCorruptRecord", "_corrupt").csv(csv)
        // every data column is referenced on purpose: CSV COLUMN PRUNING
        // narrows the parsed schema, and DROPMALFORMED validates arity
        // against the PRUNED width — measured: an aggregate touching only
        // `cents` silently KEPT all 214 extra-field rows. Touching
        // id/name/cents forces the full-width parse, restoring the drop.
        val perm = read("PERMISSIVE",
          "id LONG, name STRING, cents LONG, _corrupt STRING").select(
          lit("permissive").as("mode"),
          count(lit(1)).as("n_rows"),
          count(col("_corrupt")).as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("cents"))).as("clean_cents"),
          sum(when(col("_corrupt").isNull, col("id"))).as("sum_id"),
          count(col("name")).as("n_names"))
        val drop = read("DROPMALFORMED", "id LONG, name STRING, cents LONG").select(
          lit("dropmalformed").as("mode"),
          count(lit(1)).as("n_rows"),
          lit(0L).as("n_corrupt"),
          sum(col("cents")).as("clean_cents"),
          sum(col("id")).as("sum_id"),
          count(col("name")).as("n_names"))
        perm.unionAll(drop).orderBy("mode")
      },
      Some("""WITH c AS (SELECT c_custkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
            (c_custkey % 7 = 0 OR c_custkey % 11 = 0) AS bad
          FROM customer),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
            CAST(COUNT(*) FILTER (WHERE bad) AS BIGINT) AS n_bad,
            CAST(SUM(cents) FILTER (WHERE NOT bad) AS BIGINT) AS clean_cents,
            CAST(SUM(c_custkey) FILTER (WHERE NOT bad) AS BIGINT) AS sum_id
          FROM c)
        SELECT 'dropmalformed' AS mode, n_all - n_bad AS n_rows,
          CAST(0 AS BIGINT) AS n_corrupt, clean_cents, sum_id,
          n_all - n_bad AS n_names FROM agg
        UNION ALL
        -- PERMISSIVE still materializes the parsable fields of corrupt
        -- rows (measured), so every name is non-null
        SELECT 'permissive' AS mode, n_all AS n_rows, n_bad AS n_corrupt,
          clean_cents, sum_id, n_all AS n_names FROM agg
        ORDER BY mode""")),

    // d26 — frequent-items sketch rollup along the TIME axis: d21's
    // approx_top_k upgraded to its STORED form via Spark 4's
    // accumulate/combine/estimate trio — per-hour sketches are the kept
    // pre-aggregate, the day's top items come from combining 24 sketch
    // rows, never re-scanning events. This completes the rollup story
    // across all three sketch families the engine keeps: HLL uniques
    // (d22), theta set algebra (d24), and frequent items (here) — the
    // dashboard triad a 100 TB event store serves from O(hours ×
    // sketch-bytes) of state. Exact-regime graded like d21:
    // maxItemsTracked 64 ≥ the 5-value type alphabet, so no eviction at
    // any level, every merged count is exact, and the oracle is the
    // plain (day, type) GROUP BY.
    Q("d26_topk_time_rollup",
      (s, d) => Views.unique(s, "d26_events" -> graft.Tables.events(s, d)) { v =>
        s.sql(s"""
          WITH e AS (SELECT ts_ms div 86400000 AS day,
                            ts_ms div 3600000 AS hour, event_type
                     FROM ${v("d26_events")}),
          hours AS (SELECT day, hour,
                      approx_top_k_accumulate(event_type, 64) AS sk
                    FROM e GROUP BY day, hour),
          days AS (SELECT day, approx_top_k_combine(sk, 64) AS dsk
                   FROM hours GROUP BY day)
          SELECT day, tk.item AS event_type, CAST(tk.count AS BIGINT) AS n
          FROM days
          LATERAL VIEW explode(approx_top_k_estimate(dsk, 5)) t AS tk
          ORDER BY day, event_type""")
      },
      Some("""SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
          event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day, event_type
        ORDER BY day, event_type""")),

    // d27 — EXACT distinct counting via bucketed BITMAPS (Spark 4's
    // bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    // bitmap_count / bitmap_or_agg / bitmap_and_agg): the exact-and-
    // mergeable leg of the cardinality tier — HLL (d7/d19/d22/k12) and
    // theta (d24) trade exactness for fixed size; a bitmap keys each
    // value to (bucket, bit) and stores ~4 KB per OCCUPIED 32k-value
    // bucket, so for dense integer keys (user ids — exactly the TD
    // audience-count workload) you get EXACT uniques that still merge:
    // union = OR, intersection = AND, rollup = re-aggregate stored
    // bitmap rows. No coupon-regime caveat anywhere — every number here
    // is exact at ANY cardinality, which is why the oracle needs no
    // fingerprint compression. The ALL row ORs the per-type bucket
    // bitmaps; the click∩view row ANDs them per bucket (buckets missing
    // a side drop via the HAVING pair guard — AND with an absent bitmap
    // would wrongly pass the present side through).
    Q("d27_bitmap_exact_distinct",
      (s, d) => Views.unique(s, "d27_events" -> graft.Tables.events(s, d)) { v =>
        s.sql(s"""
          WITH e AS (SELECT event_type, user_id AS v FROM ${v("d27_events")}),
          bm AS (SELECT event_type, bitmap_bucket_number(v) AS bkt,
                   bitmap_construct_agg(bitmap_bit_position(v)) AS b
                 FROM e GROUP BY event_type, bitmap_bucket_number(v)),
          per AS (SELECT event_type AS grp,
                    CAST(SUM(bitmap_count(b)) AS BIGINT) AS uniq
                  FROM bm GROUP BY event_type),
          uni AS (SELECT bkt, bitmap_or_agg(b) AS b FROM bm GROUP BY bkt),
          ix AS (SELECT bkt, bitmap_and_agg(b) AS b FROM bm
                 WHERE event_type IN ('click', 'view')
                 GROUP BY bkt HAVING COUNT(*) = 2)
          SELECT grp, uniq FROM per
          UNION ALL
          SELECT 'ALL' AS grp, CAST(SUM(bitmap_count(b)) AS BIGINT) AS uniq
          FROM uni
          UNION ALL
          SELECT 'click&view' AS grp,
            CAST(COALESCE(SUM(bitmap_count(b)), 0) AS BIGINT) AS uniq
          FROM ix
          ORDER BY grp""")
      },
      Some("""WITH e AS (SELECT DISTINCT event_type, user_id AS v FROM events)
        SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS uniq
        FROM e GROUP BY event_type
        UNION ALL
        SELECT 'ALL' AS grp, CAST(COUNT(DISTINCT v) AS BIGINT) AS uniq FROM e
        UNION ALL
        SELECT 'click&view' AS grp, CAST(COUNT(*) AS BIGINT) AS uniq FROM (
          SELECT v FROM e WHERE event_type = 'click'
          INTERSECT
          SELECT v FROM e WHERE event_type = 'view')
        ORDER BY grp""")),

    // j55 — LATE-INTERACTION retrieval scoring (ColBERT's MaxSim,
    // Khattab & Zaharia 2020): the 4th production scorer next to lexical
    // BM25 (j42), dense cosine (j3/j41) and rank fusion (j43). Instead of
    // one vector per document, every TOKEN keeps an embedding and
    // score(d) = Σ_{q∈query} max_{t∈doc} ⟨q, t⟩ — query terms match
    // their best token each, which is why late interaction beats single-
    // vector retrieval on multi-aspect queries. Engine shape: doc-token
    // embeddings are a map-only projection (md5-derived 4-dim integer
    // vectors standing in for the model — m4's stub contract), the query
    // is the corpus's 5 most frequent tokens (one bounded aggregate),
    // and MaxSim is groupBy-max then groupBy-sum over the (token ×
    // query) pairs — the |Q|-row query carrier broadcasts, so the
    // corpus-sized side streams map-only into the two aggregations.
    // Integer dot products → hash-exact; DISTINCT doc tokens feed the
    // max (duplicates cannot change a max — recorded micro-optimization).
    Q("j55_maxsim_retrieval",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), explode(expr(
            "slice(filter(split(text, ' '), w -> length(w) > 0), 1, 32)")).as("tok"))
          .distinct()
        def emb(c: String, p: String) = expr(
          s"transform(sequence(0, 3), i -> " +
            s"cast(conv(substring(md5($c), i * 8 + 1, 4), 16, 10) as bigint) % 1000)")
          .as(p)
        val query = toks.groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("tok")).limit(5)
          .select(col("tok").as("q"), emb("tok", "qe"))
        val scored = toks.select(col("doc_id"), col("tok"), emb("tok", "te"))
          .crossJoin(broadcast(query))
          .select(col("doc_id"), col("q"), expr(
            "aggregate(zip_with(qe, te, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
            .as("dot"))
          .groupBy("doc_id", "q").agg(max("dot").as("best"))
          .groupBy("doc_id").agg(sum("best").as("score"))
        scored.orderBy(desc("score"), asc("doc_id")).limit(10)
          .select(col("doc_id"), col("score"))
      },
      Some("""WITH tk AS (SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(list_slice(list_filter(
              string_split(text, ' '), w -> strlen(w) > 0), 1, 32)) AS tok
            FROM documents)),
        q AS (SELECT tok AS q FROM (
            SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok
            ORDER BY n DESC, tok LIMIT 5)),
        emb AS (SELECT tok, list_transform(range(0, 4), i ->
            CAST('0x' || substr(md5(tok), i * 8 + 1, 4) AS BIGINT) % 1000) AS e
          FROM (SELECT DISTINCT tok FROM tk)),
        dots AS (SELECT tk.doc_id, q.q,
            MAX(list_sum(list_transform(range(1, 5),
              i -> qe.e[i] * te.e[i]))) AS best
          FROM tk JOIN emb te ON tk.tok = te.tok
            JOIN q ON true
            JOIN emb qe ON q.q = qe.tok
          GROUP BY tk.doc_id, q.q),
        sc AS (SELECT doc_id, SUM(best) AS score FROM dots GROUP BY doc_id)
        SELECT doc_id, CAST(score AS BIGINT) AS score
        FROM sc ORDER BY score DESC, doc_id LIMIT 10""")),

    Q("d24_theta_set_algebra",
      (s, d) => Views.unique(s, "d24_events" -> graft.Tables.events(s, d)) { v =>
        graft.functions.Theta.register(s)
        s.sql(s"""
          WITH e AS (SELECT event_type, user_id % 512 AS fp FROM ${v("d24_events")}),
          sk AS (SELECT event_type, theta_sketch_agg(fp) AS s
                 FROM e GROUP BY event_type)
          SELECT a.event_type AS ta, b.event_type AS tb,
            theta_estimate(a.s) AS n_a,
            theta_estimate(b.s) AS n_b,
            theta_estimate(theta_intersect(a.s, b.s)) AS n_both,
            theta_estimate(theta_a_not_b(a.s, b.s)) AS n_only_a,
            theta_estimate(theta_union(a.s, b.s)) AS n_any,
            (SELECT theta_estimate(theta_union_agg(s)) FROM sk) AS n_total
          FROM sk a JOIN sk b ON a.event_type < b.event_type
          ORDER BY ta, tb""")
      },
      Some("""WITH e AS (SELECT DISTINCT event_type, user_id % 512 AS fp
            FROM events),
        t AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY event_type),
        inter AS (SELECT a.event_type AS ia, b.event_type AS ib,
            COUNT(*) AS n_both
          FROM e a JOIN e b ON a.fp = b.fp AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type),
        tot AS (SELECT COUNT(DISTINCT fp) AS n FROM e)
        SELECT x.event_type AS ta, y.event_type AS tb,
          CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
          CAST(COALESCE(i.n_both, 0) AS BIGINT) AS n_both,
          CAST(x.n - COALESCE(i.n_both, 0) AS BIGINT) AS n_only_a,
          CAST(x.n + y.n - COALESCE(i.n_both, 0) AS BIGINT) AS n_any,
          (SELECT CAST(n AS BIGINT) FROM tot) AS n_total
        FROM t x JOIN t y ON x.event_type < y.event_type
        LEFT JOIN inter i ON i.ia = x.event_type AND i.ib = y.event_type
        ORDER BY ta, tb""")),

    Q("j54_ivfpq_ann",
      (s, d) => {
        val q = quantized(s, d).localCheckpoint()
        // coarse stage: 8 cells over the full vectors
        val (csub, ccent) = trainCodebook(s, q, 1, Dim, CoarseK)
        val cells = lloydAssign(csub, ccent)
          .select(col("vec_id"), col("cid").as("cell"))
        val probeQ = q.where(col("vec_id") === 0).select(col("qv").as("pqv"))
        val pcells = ccent.crossJoin(broadcast(probeQ)) // 8-row carrier
          .select(col("cid").as("pcell"), expr(sqDist("cv", "pqv")).as("cd"))
          .orderBy(asc("cd"), asc("pcell")).limit(Knobs.ivfNprobe(s)).select("pcell")
        // residual fine stage: PQ over qv − cell centroid
        val resid = q.join(cells, "vec_id")
          .join(broadcast(ccent.select(col("cid").as("cell"), col("cv").as("ccv"))),
            "cell")
          .select(col("vec_id"), col("cell"),
            expr("zip_with(qv, ccv, (a, b) -> a - b)").as("qv"))
          .localCheckpoint()
        val (fsub, fcent) = trainCodebook(s, resid.select("vec_id", "qv"), M, SubDim, K)
        val codes = lloydAssign(fsub, fcent).select("vec_id", "m", "cid")
        // per-probed-cell ADC lookup tables from the PROBE's residuals
        val pr = ccent.select(col("cid").as("cell"), col("cv").as("ccv"))
          .join(broadcast(pcells), col("cell") === col("pcell")).drop("pcell")
          .crossJoin(broadcast(probeQ))
          .select(col("cell"), expr("zip_with(pqv, ccv, (a, b) -> a - b)").as("rv"))
        val rpsub = pr.select(col("cell"), explode(expr(
            s"transform(sequence(0, ${M - 1}), mm -> " +
              s"struct(cast(mm as int) as m, slice(rv, mm * $SubDim + 1, $SubDim) as pv))")).as("x"))
          .select(col("cell"), col("x.m").as("m"), col("x.pv").as("pv"))
        val lut = fcent.join(broadcast(rpsub), "m")
          .select(col("cell"), col("m"), col("cid"), expr(sqDist("cv", "pv")).as("pd"))
        val shortlist = codes.join(cells, "vec_id")
          .join(broadcast(pcells), col("cell") === col("pcell"))
          .where(col("vec_id") =!= 0)
          .join(broadcast(lut), Seq("cell", "m", "cid"))
          .groupBy("vec_id").agg(sum("pd").as("adc"))
          .orderBy(asc("adc"), asc("vec_id")).limit(Knobs.pqShortlist(s))
        val pvFull = q.where(col("vec_id") === 0).select(col("qv").as("pv"))
        q.join(broadcast(shortlist), "vec_id")
          .crossJoin(broadcast(pvFull))
          .select(col("vec_id"), expr(sqDist("qv", "pv")).as("d2"), col("adc"))
          .orderBy(asc("d2"), asc("vec_id")).limit(10)
      },
      Some(ivfpqOracle)))
}
