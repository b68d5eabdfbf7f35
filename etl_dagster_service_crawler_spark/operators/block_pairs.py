"""Sub-block pair fan shared by the quadratic pair stages (LSH minhash
pairs, the kNN-graph partial top-k, the quantized coarse top-R and the
pair histogram).

Every such stage compares all members of a bucket with each other. A
bucket of n members is split into ceil(n/block_rows) hash sub-blocks
and every unordered (sub-block, sub-block) pair becomes ONE group of a
grouped Arrow map: the kernel receives that group's rows as a single
Arrow table and reads each list column with one flatten + reshape. A
hot bucket's quadratic pair mass therefore spreads over many bounded
groups (per-group work <= block_rows² comparisons) instead of one task,
and no payload is ever packed into list-of-struct cells or joined
against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def block_pair_fan(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    block_rows: int | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """Fan each row of ``df`` out to every sub-block pair of its bucket.

    ``keys`` name the bucket (empty: the whole frame is one bucket).
    With ``block_rows`` the bucket sizes are counted (a tiny partial
    aggregate), singleton buckets are dropped — they hold no pair — and
    a bucket of n rows gets ceil(n/block_rows) sub-blocks; a caller
    that already knows the sub-block count passes ``n_blocks`` instead
    and no count runs. A row lands in sub-block
    blk = pmod(xxhash64(id), nblk) and is emitted once per o in
    0..nblk-1 as (qblk, tblk) = (least(blk, o), greatest(blk, o)) with
    ``isq = blk <= o``. Group (keys, qblk, tblk) then holds sub-block
    qblk's rows with isq true and, when tblk > qblk, sub-block tblk's
    rows with isq false; a same-block group (qblk == tblk) holds its
    rows once. Every unordered member pair of a bucket meets in exactly
    one group.

    The result is hash-repartitioned on (keys, qblk, tblk) at an
    explicit 4 x cores width, which the caller's
    ``groupBy(*keys, "qblk", "tblk").applyInArrow`` reuses. The width
    is explicit because AQE would coalesce this small exchange to one
    partition and run every kernel group serially; it is 4x the cores
    because groups carry uneven pair weights (1 .. block_rows² pairs)
    and finer bins keep the heavy ones from clumping into one task
    (measured at sf0.1: at 1x width one partition drew 42% of all LSH
    pairs)."""
    if n_blocks is None:
        sz = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") >= 2)
            .select(
                *keys,
                F.ceil(F.col("__n") / F.lit(block_rows)).cast("int").alias("__nblk"),
            )
        )
        df = df.join(sz, keys)
        nblk = F.col("__nblk")
    else:
        nblk = F.lit(n_blocks)
    payload = [c for c in df.columns if c != "__nblk"]
    blk = F.col("__blk")
    o = F.col("__o")
    fanned = (
        df.select(
            *payload,
            F.pmod(F.xxhash64(F.col(id_col)), nblk).cast("int").alias("__blk"),
            F.explode(F.sequence(F.lit(0), nblk - 1)).alias("__o"),
        )
        .select(
            *payload,
            F.least(blk, o).alias("qblk"),
            F.greatest(blk, o).alias("tblk"),
            (blk <= o).alias("isq"),
        )
    )
    n_parts = 4 * df.sparkSession.sparkContext.defaultParallelism
    return fanned.repartition(n_parts, *keys, "qblk", "tblk")


def list_matrix(table, name: str):
    """A fixed-width list column of an Arrow table as one (rows, width)
    numpy matrix: one flatten of the values buffer and a reshape, no
    per-row Python objects. Rows must be non-NULL and equally long."""
    import pyarrow.compute as pc

    flat = pc.list_flatten(table.column(name)).to_numpy()
    return flat.reshape(table.num_rows, -1)


def sides(key, table):
    """(q, n, same) for one fan group: row selectors of the query side
    (sub-block qblk) and the target side (sub-block tblk), and whether
    they are the same sub-block — then both selectors take every row,
    and each unordered pair inside the group is compared twice (once
    per orientation) unless the kernel masks one half."""
    same = key[-2].as_py() == key[-1].as_py()
    if same:
        return slice(None), slice(None), True
    q = table.column("isq").to_numpy()
    return q, ~q, False
