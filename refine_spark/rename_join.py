"""Rename + join clash detection/resolution plans.

SURVEY.md §2.5 A8/A9 + §2.6 W4/W5 + §2.4 J4-J6.

rename (reference /root/reference/src/commands/rename.rs):
  - new_name = trim(stem) -> naming rules -> blocked when cleared
  - extension re-appended
  - clash groups = same (parent, new_name) with >1 member
  - strategies: sequence (-1, -2 suffixes on changed rows), ignore
    (clashing rows dropped), forbid (all changed rows in a clashing
    parent blocked)
  - keep rows whose new_name differs from the current name

join (reference /root/reference/src/commands/join.rs):
  - union source rows with rows already in the target (tagged), detect
    same-name groups across directories; the in-place (or first) row
    keeps its name; others resolve per strategy:
      name_sequence: `stem-2`, `stem-3`, ... skipping names taken in the
        target (shared counter across the group, join.rs:126-135)
      parent_name / name_parent: embed the parent dir name
      ignore: skip clashing rows
  - rows already in place are dropped from the plan and counted

All resolution is window/aggregate work; orderings pin url so plans are
reproducible (the reference's unstable sorts are nondeterministic on
ties — we deliberately fix that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .naming import apply_naming


def _parent(url):
    return F.regexp_replace(url, r"/[^/]*$", "")


def rename_plan(
    df: DataFrame,
    rules: list[tuple[str, str]] | None = None,
    clashes: str = "sequence",
) -> DataFrame:
    """Rename plan over (url, name, stem, ext).

    Returns (url, parent, name, new_name, changed, clash, blocked,
    resolution)."""
    assert clashes in ("sequence", "ignore", "forbid")
    base = df.withColumn("new_name", F.trim(F.col("stem")))
    base = apply_naming(base, rules or [])
    dot_ext = F.when(F.col("ext") == "", F.lit("")).otherwise(
        F.concat(F.lit("."), F.col("ext"))
    )
    base = base.withColumn(
        "new_name",
        F.when(F.col("blocked"), F.col("new_name")).otherwise(
            F.concat(F.col("new_name"), dot_ext)
        ),
    ).withColumn("parent", _parent(F.col("url")))

    live = base.filter(~F.col("blocked"))
    wclash = W.partitionBy("parent", "new_name")
    live = live.withColumn("_n_same", F.count(F.lit(1)).over(wclash)).withColumn(
        "clash", F.col("_n_same") > 1
    ).withColumn("changed", F.col("new_name") != F.col("name"))

    if clashes == "forbid":
        wparent = W.partitionBy("parent")
        any_clash = F.max(F.col("clash").cast("int")).over(wparent) == 1
        resolved = live.withColumn(
            "blocked", F.col("blocked") | (any_clash & F.col("changed"))
        ).withColumn(
            "new_name",
            F.when(any_clash, F.lit("")).otherwise(F.col("new_name")),
        ).withColumn("resolution", F.lit(""))
    elif clashes == "ignore":
        resolved = live.withColumn(
            "new_name", F.when(F.col("clash"), F.lit("")).otherwise(F.col("new_name"))
        ).withColumn("resolution", F.lit(""))
    else:  # sequence: changed rows in clash groups get -1, -2, ... (W4)
        rn = F.row_number().over(
            W.partitionBy("parent", "new_name", "changed").orderBy("url")
        )
        stem_new = F.regexp_replace("new_name", r"\.[^.]*$", "")
        seq_name = F.when(
            F.col("ext") == "", F.concat(F.col("new_name"), F.lit("-"), rn)
        ).otherwise(F.concat(stem_new, F.lit("-"), rn, F.lit("."), F.col("ext")))
        resolved = live.withColumn(
            "resolution",
            F.when(F.col("clash") & F.col("changed"), F.lit(" (added sequence number)")).otherwise(F.lit("")),
        ).withColumn(
            "new_name",
            F.when(F.col("clash") & F.col("changed"), seq_name).otherwise(
                F.col("new_name")
            ),
        )
    blocked_rows = base.filter(F.col("blocked")).withColumn(
        "clash", F.lit(False)
    ).withColumn("changed", F.lit(False)).withColumn("resolution", F.lit(""))
    out_cols = ["url", "parent", "name", "new_name", "changed", "clash", "blocked", "resolution"]
    resolved = resolved.withColumn(
        "changed", (F.col("new_name") != F.col("name")) & (F.col("new_name") != "")
    )
    return resolved.select(*out_cols).unionByName(blocked_rows.select(*out_cols))


def join_plan(
    src: DataFrame,
    target: DataFrame,
    target_dir: str,
    clashes: str = "name_sequence",
    force: bool = False,
) -> DataFrame:
    """Join plan: move rows from `src` into `target_dir`.

    `src`/`target` need (url, name, stem, ext). Returns
    (url, name, new_name, origin, in_place, clash, skip).
    """
    assert clashes in ("name_sequence", "parent_name", "name_parent", "ignore")
    tagged = src.withColumn("origin", F.lit("src")).unionByName(
        target.withColumn("origin", F.lit("target"))
    ).dropDuplicates(["url"])

    parent = _parent(F.col("url"))
    in_place = (
        F.col("url").startswith(target_dir.rstrip("/") + "/")
        if force
        else parent == target_dir.rstrip("/")
    )
    tagged = tagged.withColumn("in_place", in_place)

    wname = W.partitionBy("name")
    worder = wname.orderBy(F.col("in_place").desc(), "url")
    tagged = (
        tagged.withColumn("_n", F.count(F.lit(1)).over(wname))
        .withColumn("clash", F.col("_n") > 1)
        .withColumn("_rk", F.row_number().over(worder))
    )

    dot = F.when(F.col("ext") == "", F.lit("")).otherwise(F.lit("."))
    if clashes == "ignore":
        plan = tagged.withColumn("skip", F.col("clash") & (F.col("_rk") >= 1))
        plan = plan.withColumn("new_name", F.lit(None).cast("string"))
    elif clashes in ("parent_name", "name_parent"):
        par_leaf = F.element_at(F.split(parent, "/"), -1)
        fmt = (
            F.concat(par_leaf, F.lit("-"), F.col("stem"), dot, F.col("ext"))
            if clashes == "parent_name"
            else F.concat(F.col("stem"), F.lit("-"), par_leaf, dot, F.col("ext"))
        )
        plan = tagged.withColumn(
            "new_name", F.when(F.col("clash"), fmt)
        ).withColumn("skip", F.lit(False))
    else:  # name_sequence (W5): stem-{i}, i from 2, skipping taken names
        # Reference semantics (join.rs:126-135): each clash group shares
        # one counter 2,3,... and every probe CONSUMES a value, taken or
        # not — so the k-th renamed member of the group receives exactly
        # the k-th integer >= 2 whose `stem-{i}{.ext}` is NOT a name
        # already in the target. That is an order statistic, not a loop:
        # no retry bound, no unresolved collisions (round-2's
        # max_fix_iters=4 silently gave up after 4 bumps).
        #
        # A taken target name can only block group (stem, ext) if it
        # equals stem-'i'(.ext) literally; decompose each taken name once
        # per possible extension shape (after-last-dot ext, or no ext)
        # and equi-join the per-(stem, ext) sorted taken set to the group.
        tn = target.select(F.col("name").alias("tname")).distinct()
        ext_re = r"^(.*)-([1-9][0-9]*)\.([^.]*)$"
        noext_re = r"^(.*)-([1-9][0-9]*)$"
        parsed = tn.select(
            F.regexp_extract("tname", ext_re, 1).alias("t_stem"),
            F.regexp_extract("tname", ext_re, 2).alias("t_i"),
            F.regexp_extract("tname", ext_re, 3).alias("t_ext"),
        ).unionByName(
            tn.select(
                F.regexp_extract("tname", noext_re, 1).alias("t_stem"),
                F.regexp_extract("tname", noext_re, 2).alias("t_i"),
                F.lit("").alias("t_ext"),
            )
        )
        group_taken = (
            parsed.filter(F.col("t_i") != "")
            .select("t_stem", "t_ext", F.col("t_i").cast("long").alias("t_i"))
            .filter(F.col("t_i") >= 2)
            .distinct()
            .groupBy("t_stem", "t_ext")
            .agg(F.sort_array(F.collect_set("t_i")).alias("_taken"))
        )
        cand = tagged.join(
            F.broadcast(group_taken),
            (F.col("stem") == F.col("t_stem")) & (F.col("ext") == F.col("t_ext")),
            "left",
        ).drop("t_stem", "t_ext")
        # j-th renamed member (j = _rk - 1) starts at candidate j+1 = _rk;
        # fold the ASCENDING taken list: each taken value <= the current
        # candidate shifts it up by one — yields the j-th free integer
        free_i = F.aggregate(
            F.coalesce(F.col("_taken"), F.expr("CAST(array() AS ARRAY<BIGINT>)")),
            F.col("_rk").cast("long"),
            lambda acc, t: F.when(t <= acc, acc + F.lit(1).cast("long")).otherwise(acc),
        )
        plan = cand.withColumn(
            "new_name",
            F.when(
                F.col("clash") & (F.col("_rk") > 1),
                F.concat(F.col("stem"), F.lit("-"), free_i, dot, F.col("ext")),
            ),
        ).withColumn("skip", F.lit(False)).drop("_taken")

    return plan.select(
        "url", "name", "new_name", "origin", "in_place", "clash", "skip"
    )


def join_receipt(plan: DataFrame) -> DataFrame:
    """A12 summary receipt: totals / clashes / in_place as one row.

    clashes counts group_size - 1 per clashing name (one member is — or
    will be — in the target; the others clash, join.rs:119)."""
    clash_rows = F.sum(F.when(F.col("clash"), 1).otherwise(0))
    clash_names = F.count_distinct(F.when(F.col("clash"), F.col("name")))
    return plan.agg(
        F.count(F.lit(1)).alias("total"),
        (clash_rows - clash_names).cast("long").alias("clashes"),
        F.sum(
            F.when(F.col("in_place") & (F.col("origin") == "src"), 1).otherwise(0)
        ).alias("in_place"),
    )
