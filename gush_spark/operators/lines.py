"""Corpus-frequent-line removal — the RefinedWeb/CCNet boilerplate
pass: a line that recurs across many *different* documents (cookie
banners, nav menus, "all rights reserved") is template chrome, not
content, and is stripped from every document while the document's
remaining lines keep their original order.

This is cross-document state (a single doc can't know its line is a
template), which distinguishes it from the per-doc repetition scores
(operators/repetition.py) and the n-gram phrase miner
(queries_pipeline.frequent_phrases_hashed).

Scale design (100 TB):
- the frequency stages shuffle ONLY line md5 keys (doc-frequency per
  key via a distinct-(key,doc) count — both map-side-combinable);
- the frequent set is SMALL by construction (a line must clear
  ``min_docs`` distinct docs to qualify — template chrome is a tiny
  fraction of distinct lines), so it is **broadcast** and the removal
  join is a map-only left-anti per partition;
- document RECONSTRUCTION is the honest cost decision. The default
  (join form) groups surviving (pos, line) structs by doc id — one
  exchange of the surviving corpus text, i.e. ~a repartition of the
  corpus. ``map_side=True`` avoids even that: the frequent keys are
  collected (size-guarded — they are small by the same construction
  argument that justifies the broadcast) and each doc filters its own
  lines array in a vectorized pandas UDF — ZERO text shuffle, one map
  pass; this is the 10^12-doc path. Both forms are pinned equal by
  test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_line_keys(
    exploded: DataFrame, id_col: str, min_docs: int
) -> DataFrame:
    """md5 keys of lines appearing in >= ``min_docs`` distinct docs.

    ``exploded`` must carry ``id_col`` and ``lk`` (line md5).
    """
    return (
        exploded.select(id_col, "lk")
        .distinct()
        .groupBy("lk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("lk")
    )


def remove_frequent_lines(
    df: DataFrame,
    id_col: str,
    lines_col: str,
    *,
    min_docs: int = 2,
    joiner: str = "\n",
    map_side: bool = False,
    max_collected_keys: int = 5_000_000,
) -> DataFrame:
    """Strip corpus-frequent lines from each document.

    ``lines_col`` is an ``array<string>`` of the document's lines.
    Output: ``id_col``, ``clean_text`` (surviving lines joined by
    ``joiner`` in original order; empty string when every line was
    boilerplate), ``n_lines`` (original), ``n_removed``.

    ``map_side=True`` reconstructs without shuffling any text (see
    module docstring); raises if the frequent set exceeds
    ``max_collected_keys`` — that means ``min_docs`` is set so low the
    "frequent lines are few" premise no longer holds.
    """
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(lines_col)).alias("pos", "line")
    ).withColumn("lk", F.md5("line"))
    frequent = frequent_line_keys(exploded, id_col, min_docs)
    if map_side:
        return _remove_map_side(
            df, id_col, lines_col, frequent, joiner, max_collected_keys
        )
    kept = exploded.join(F.broadcast(frequent), on="lk", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            joiner,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # docs whose every line was boilerplate drop out of the groupBy —
    # join back to the id spine so they surface with clean_text = ''
    spine = df.select(F.col(id_col), F.size(F.col(lines_col)).cast("long").alias("n_lines"))
    return (
        spine.join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("long").alias(
                "n_removed"
            ),
        )
    )


def _remove_map_side(
    df: DataFrame,
    id_col: str,
    lines_col: str,
    frequent: DataFrame,
    joiner: str,
    max_collected_keys: int,
) -> DataFrame:
    """Zero-text-shuffle reconstruction: collect the (small) frequent
    key set and filter every doc's lines array in one vectorized pandas
    UDF — the doc spine never moves."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    rows = frequent.limit(max_collected_keys + 1).collect()
    if len(rows) > max_collected_keys:
        raise ValueError(
            f"frequent-line set exceeds max_collected_keys="
            f"{max_collected_keys}; raise min_docs (template chrome "
            "should be a tiny fraction of distinct lines) or use the "
            "default join form"
        )
    keys = frozenset(r["lk"] for r in rows)

    out_type = T.StructType(
        [
            T.StructField("clean_text", T.StringType()),
            T.StructField("n_lines", T.LongType()),
            T.StructField("n_removed", T.LongType()),
        ]
    )

    def _strip_fn(lines):
        # null handling is pinned to the join form: a null ARRAY yields
        # ('', null, null) (explode emits no rows, size(null) is null);
        # a null ELEMENT is never-frequent (md5(null) joins nothing in
        # the anti-join) so it is kept and counted, but — like
        # array_join — omitted from the rebuilt text
        texts, n_ls, n_rm = [], [], []
        for ls in lines:
            if ls is None:
                texts.append("")
                n_ls.append(None)
                n_rm.append(None)
                continue
            ls = list(ls)
            kept = [
                l for l in ls
                if l is None
                or hashlib.md5(l.encode("utf-8")).hexdigest() not in keys
            ]
            texts.append(joiner.join(l for l in kept if l is not None))
            n_ls.append(len(ls))
            n_rm.append(len(ls) - len(kept))
        return pd.DataFrame(
            {
                "clean_text": texts,
                "n_lines": pd.array(n_ls, dtype="Int64"),
                "n_removed": pd.array(n_rm, dtype="Int64"),
            }
        )

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf kind inference
    _strip_fn.__annotations__ = {"lines": pd.Series, "return": pd.DataFrame}
    _strip = F.pandas_udf(out_type)(_strip_fn)

    return df.select(
        F.col(id_col), _strip(F.col(lines_col)).alias("_r")
    ).select(id_col, "_r.clean_text", "_r.n_lines", "_r.n_removed")
