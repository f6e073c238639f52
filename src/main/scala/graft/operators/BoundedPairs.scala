package graft.operators

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate pairs from a keyed relation: the "bucket, then
  * self-join" half of every bucket-then-verify operator (LSH bands,
  * SimHash buckets, cosine near-dup and SemDeDup cells, blocked
  * fuzzy names). Callers keep only their verify step.
  *
  * `BoundedPairs(df, keys, id, carry, mode)` returns
  * `(keys…, <id>_a, <id>_b, <carry>_a…, <carry>_b…)`: each unordered
  * pair of rows sharing all `keys` once per key, `<id>_a < <id>_b`,
  * each row's `carry` columns beside its id. Ids are Long or String;
  * `(keys, id)` must be unique and `id` non-null.
  *
  * Both modes start from a map-side-combined per-key count broadcast
  * back to the rows, never a `count().over(keys)` window, which would
  * shuffle every row for what a broadcast of the few keys carries (a
  * window tag cost q42/q43 2.4–3.2× at sf0.1).
  * - [[Exact]]: every within-key pair. Keys above `hotThreshold` rows
  *   are self-joined block-wise, so one key's m² pairs spread over
  *   ~S²/2 reducers instead of one; cold keys take the plain equi-join.
  * - [[Cells]]: each key splits into [[cellCount]] md5 cells and pairs
  *   form within cells only: pair work ≤ n·target, linear at a fixed
  *   target. A key above `target` rows loses its cross-cell pairs
  *   (recall < 1); at or below it the output equals [[Exact]].
  */
object BoundedPairs {

  /** A key counts as hot above this many rows in [[Exact]] mode. */
  val HotKeyThreshold = 4096L

  /** Id-hash shards a hot key's block self-join spreads over. */
  val SkewShards = 16

  sealed trait Mode
  final case class Exact(hotThreshold: Long = HotKeyThreshold,
      shards: Int = SkewShards) extends Mode
  final case class Cells(target: Long) extends Mode

  /** `⌈n / target⌉` md5 cells for a key of `n` rows (a count column). */
  def cellCount(n: String, target: Long): Column =
    expr(s"($n + ${target - 1}) div $target")

  def apply(df: DataFrame, keys: Seq[String], id: String,
      carry: Seq[String] = Nil, mode: Mode = Exact()): DataFrame = {
    val n = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    mode match {
      case Exact(hotThreshold, shards) =>
        // One join keyed on (keys, lo, hi). A hot row in id-hash shard
        // s joins as the left side of blocks (s, s..S-1) and as the
        // right side of blocks (0..s, s): a cross-shard pair meets in
        // one block, a same-shard pair in block (s, s) from both sides,
        // where only `id_a < id_b` is kept. Cold rows all sit in block
        // (0, 0), which is the plain equi-join on `keys`.
        val hot = n.filter(col("__n") > hotThreshold)
          .select(keys.map(col) :+ lit(true).as("__hot"): _*)
        val tagged = df.join(broadcast(hot), keys, "left")
          .withColumn("__s", when(col("__hot"), pmod(hash(col(id)), lit(shards))).otherwise(0))
        def blocks(from: Column, to: Column) =
          explode(when(col("__hot"), sequence(from, to)).otherwise(array(lit(0))))
        val left = side(tagged, keys, id, carry, "_a",
          col("__s").as("__lo"), blocks(col("__s"), lit(shards - 1)).as("__hi"))
        val right = side(tagged, keys, id, carry, "_b",
          blocks(lit(0), col("__s")).as("__lo"), col("__s").as("__hi"))
        // a cross-shard pair keeps its block's orientation, so ids and
        // carried columns swap together into contract order
        val lt = col(s"${id}_a") < col(s"${id}_b")
        def lo(c: String) = when(lt, col(c + "_a")).otherwise(col(c + "_b")).as(c + "_a")
        def hi(c: String) = when(lt, col(c + "_b")).otherwise(col(c + "_a")).as(c + "_b")
        left.join(right, keys ++ Seq("__lo", "__hi"))
          .filter(col("__lo") < col("__hi") || lt)
          .select(keys.map(col) ++ Seq(lo(id), hi(id)) ++ carry.map(lo) ++ carry.map(hi): _*)
      case Cells(target) =>
        val cells = df.join(broadcast(n), keys).withColumn("__cell",
          TextHash.base32Builtin(col(id).cast("string")) % cellCount("__n", target))
        val ck = keys :+ "__cell"
        side(cells, ck, id, carry, "_a").join(side(cells, ck, id, carry, "_b"), ck)
          .filter(col(s"${id}_a") < col(s"${id}_b"))
          .select(keys.map(col) ++ Seq(col(s"${id}_a"), col(s"${id}_b")) ++
            carry.map(c => col(c + "_a")) ++ carry.map(c => col(c + "_b")): _*)
    }
  }

  // rename-projected sides, not dataset aliases: `df.as("x")` self
  // joins resolve both `x.id` and `y.id` to one attribute under some
  // cached or reused plans, silently turning `x < y` into `v < v` =
  // empty (seen flipping with driver heap size) — rename first, always
  private def side(df: DataFrame, keys: Seq[String], id: String,
      carry: Seq[String], sfx: String, extra: Column*): DataFrame =
    df.select(keys.map(col) ++ (id +: carry).map(c => col(c).as(c + sfx)) ++ extra: _*)
}
