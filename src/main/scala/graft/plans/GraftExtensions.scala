package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

import graft.functions.{ArgminTop2Long, CharCounts, CosineSim, DiversityStats, DotLong, Fingerprint, GramShingles, Hash32, KmvSketchAgg, KmvValuesAgg, LutSumLong, MinHash16, MinHashFold, PairCombos, SimHash32, SortedHitCount, SqDistLong, TileMd5, ZOrder2}

/** SparkSessionExtensions entry point (SURVEY §2.D x02).
  *
  * Installed via `spark.sql.extensions=graft.plans.GraftExtensions`;
  * registers graft's native expressions as SQL functions so plain
  * `spark.sql("SELECT graft_cosine(a, b) ...")` uses the codegen
  * kernel — no UDF registration per session, works on every executor.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: wrong-arity SQL calls get a diagnosable
    * error naming the function, not an IndexOutOfBoundsException from
    * inside resolution. */
  private def checked(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      require(children.length == arity,
        s"$name expects $arity argument(s), got ${children.length}")
      build(children)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      checked("graft_cosine", 2)(c => CosineSim(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotLong].getName, "graft_dot_long"),
      checked("graft_dot_long", 2)(c => DotLong(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_sqdist_long"),
      new ExpressionInfo(classOf[SqDistLong].getName, "graft_sqdist_long"),
      checked("graft_sqdist_long", 2)(c => SqDistLong(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_argmin_top2_long"),
      new ExpressionInfo(classOf[ArgminTop2Long].getName, null,
        "graft_argmin_top2_long",
        "_FUNC_(q, cents) - Two-nearest-centroid fold over array<struct<c:int, " +
          "cv:array<bigint>>> `cents` (pass it ascending-sorted by c so distance " +
          "ties resolve to the lower cell): returns [d1, c1, d2, c2] as " +
          "array<bigint>, with MaxValue/-1 when fewer than 1/2 centroids exist.", ""),
      checked("graft_argmin_top2_long", 2)(c => ArgminTop2Long(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_lut_sum_long"),
      new ExpressionInfo(classOf[LutSumLong].getName, "graft_lut_sum_long"),
      checked("graft_lut_sum_long", 3) { c =>
        // stride parameterizes the generated loop, so it must be a
        // literal — a column-valued stride would mean a different
        // kernel per row (the graft_kmv k-literal convention)
        val stride = c(2) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_lut_sum_long(lut, codes, stride): stride must be an integer literal, got $other")
        }
        LutSumLong(c(0), c(1), stride)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash16"),
      new ExpressionInfo(classOf[MinHash16].getName, "graft_minhash16"),
      checked("graft_minhash16", 1)(c => MinHash16(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_fold"),
      new ExpressionInfo(classOf[MinHashFold].getName, "graft_minhash_fold"),
      checked("graft_minhash_fold", 1)(c => MinHashFold(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_hit_count"),
      // the usage string carries the two caller-owned contracts: the
      // search side must be ascending-sorted, and the probe side must
      // be distinct for the result to read as an intersection size —
      // duplicate probe elements count once PER OCCURRENCE (multiset
      // semantics), unlike size(array_intersect(...))
      new ExpressionInfo(classOf[SortedHitCount].getName, null,
        "graft_sorted_hit_count",
        "_FUNC_(probe, sorted) - Number of non-null elements of array<string> `probe` " +
          "found in `sorted`, which MUST be ascending under the binary string ordering " +
          "(what array_sort produces). Duplicate probe elements are counted once per " +
          "occurrence: pass an array_distinct probe to read the result as " +
          "size(array_intersect(probe, sorted)).", ""),
      checked("graft_sorted_hit_count", 2)(c => SortedHitCount(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_char_counts"),
      new ExpressionInfo(classOf[CharCounts].getName, "graft_char_counts"),
      checked("graft_char_counts", 1)(c => CharCounts(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_diversity_stats"),
      new ExpressionInfo(classOf[DiversityStats].getName, "graft_diversity_stats"),
      checked("graft_diversity_stats", 1)(c => DiversityStats(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_hash32"),
      new ExpressionInfo(classOf[Hash32].getName, "graft_hash32"),
      checked("graft_hash32", 1)(c => Hash32(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32"),
      checked("graft_simhash32", 1)(c => SimHash32(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[GramShingles].getName, null,
        "graft_grams",
        "_FUNC_(ws, k, distinct) - Word-k-gram shingles of array<string> `ws` " +
          "joined with single spaces, in position order (first-occurrence order " +
          "when `distinct`), empty below k words. k and distinct must be literals " +
          "(they parameterize the generated loop).", ""),
      checked("graft_grams", 3) { c =>
        val k = c(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_grams(ws, k, distinct): k must be an integer literal, got $other")
        }
        val distinct = c(2) match {
          case Literal(v: Boolean, BooleanType) => v
          case other => throw new IllegalArgumentException(
            s"graft_grams(ws, k, distinct): distinct must be a boolean literal, got $other")
        }
        GramShingles(c(0), k, distinct)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_tile_md5"),
      new ExpressionInfo(classOf[TileMd5].getName, null,
        "graft_tile_md5",
        "_FUNC_(ws, w, stride) - md5 hex of every w-word tile of array<string> " +
          "`ws` at the given stride (tile t covers words [t*stride, t*stride+w)), " +
          "in position order, empty below w words. w and stride must be integer " +
          "literals (they parameterize the generated loop).", ""),
      checked("graft_tile_md5", 3) { c =>
        val Seq(w, stride) = Seq(1, 2).map(i => c(i) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_tile_md5(ws, w, stride): w/stride must be integer literals, got $other")
        })
        TileMd5(c(0), w, stride)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_pair_combos"),
      new ExpressionInfo(classOf[PairCombos].getName, null,
        "graft_pair_combos",
        "_FUNC_(arr) - All ordered index pairs (i < j) of `arr` as " +
          "array<struct<a, b>>, in (i, j) lexicographic order — pass a sorted " +
          "array so a < b falls out of element order.", ""),
      checked("graft_pair_combos", 1)(c => PairCombos(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "graft_fingerprint"),
      checked("graft_fingerprint", 1)(c => Fingerprint(c.head))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder2].getName, "graft_zorder"),
      checked("graft_zorder", 2)(c => ZOrder2(c(0), c(1)))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "graft_kmv"),
      checked("graft_kmv", 2) { c =>
        // k parameterizes the buffer shape, so it must be a literal —
        // a column-valued k would mean a different aggregate per row
        val k = c(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmv(hash, k): k must be an integer literal, got $other")
        }
        new KmvSketchAgg(c(0), k)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv_values"),
      new ExpressionInfo(classOf[KmvValuesAgg].getName, "graft_kmv_values"),
      checked("graft_kmv_values", 2) { c =>
        val k = c(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmv_values(hash, k): k must be an integer literal, got $other")
        }
        new KmvValuesAgg(c(0), k)
      }
    ))
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}
