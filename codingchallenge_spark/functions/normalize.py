"""Normalize stage: row-level scalar operators P1–P6 (SURVEY.md §2.2).

Everything here is built-in ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen) — no Python UDFs. Determinism: every derived column is a
pure function of the input row (BASELINE.json:6 "deterministic multi-pass
blocking"); no wall-clock, no randomness.

Per-row invariant (BASELINE.json:15): ``content`` is carried through
byte-identically — normalization writes NEW columns, never overwrites
``content``. ``content_sha = sha2(content, 256)`` is the invariant witness.

The relation-level steps every resolving plan shares also live here, once:
the partition floor, the matching normalize (:func:`normalize_for_matching`)
and the binary-rid work projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tokens shorter than this carry no blocking signal.
MIN_TOKEN_LEN = 2
# Code-ish stopwords: near-universal tokens that would block everything with
# everything (hot keys are additionally capped downstream, operators/blocking).
STOPWORDS = (
    "the of and or to in for is a an if else return import from def class "
    "public static void int this self with as not"
).split()


def content_sha(col: Column | str = "content") -> Column:
    """P3 — sha256 hex of content (BASELINE.json:15 invariant)."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def record_id(
    repo: str = "repo", path: str = "path", commit: str = "commit"
) -> Column:
    """P4 — deterministic record id: sha256 over the natural key.

    Uses \\x1f (unit separator) so no legal path/repo string can collide by
    concatenation.
    """
    return F.sha2(F.concat_ws("\x1f", F.col(repo), F.col(path), F.col(commit)), 256)


def guarded_unhex(col: str, context: str) -> Column:
    """``unhex`` with the sha256-hex invariant ASSERTED, never silently nulled.

    ``F.unhex`` returns NULL for any malformed input, which downstream turns
    into silently dropped rows (a join key that matches nothing, a canon
    filter that discards the edge). Every rid/entity_id in this engine is
    64-char lowercase sha256 hex BY CONSTRUCTION (:func:`record_id`), so a
    violation means a foreign or corrupted input and must raise with the
    offending value. The error message coalesces NULL to a printable token
    so assert_true never raises with a NULL message.
    """
    ok = F.col(col).rlike("^[0-9a-f]{64}$")
    msg = F.concat(
        F.lit(f"{context}: {col} is not 64-char lowercase sha256 hex: "),
        F.coalesce(F.col(col), F.lit("<null>")),
    )
    # assert_true returns NULL when the predicate holds, raises otherwise.
    return F.when(F.assert_true(ok, msg).isNull(), F.unhex(col))


def name_norm(path: str = "path") -> Column:
    """P5 — normalized name/title key from the path basename.

    lowercase → strip extension → non-alphanumeric → space → collapse/trim.
    This is the sorted-neighborhood sort key (BASELINE.json:6 "sorted-
    neighborhood on normalized name/title keys").
    """
    base = F.element_at(F.split(F.col(path), "/"), -1)
    no_ext = F.regexp_replace(F.lower(base), r"\.[a-z0-9]{1,8}$", "")
    alnum = F.regexp_replace(no_ext, r"[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(alnum, r"\s+", " "))


def tokenize(col: Column | str = "content") -> Column:
    """P6 — content → distinct token array for token blocking / Jaccard.

    Split on non-alphanumeric runs, lowercase, drop short tokens and
    stopwords, distinct, sort (sorted so downstream set ops and goldens are
    order-stable). Pure higher-order built-ins — stays in codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    raw = F.split(F.lower(c), r"[^a-z0-9]+")
    kept = F.filter(
        raw,
        lambda t: (F.length(t) >= MIN_TOKEN_LEN)
        & ~t.isin(*STOPWORDS),
    )
    return F.array_sort(F.array_distinct(kept))


def normalize_records(df: DataFrame) -> DataFrame:
    """Full normalize stage: input records → records_norm (SURVEY.md §1.3).

    Filters first (null/empty content) so the predicate reaches the scan,
    then derives rid/content_sha/name_norm/tokens. ``content`` is preserved
    unchanged.
    """
    return (
        df.filter(F.col("content").isNotNull() & (F.length("content") > 0))
        .withColumn("rid", record_id())
        .withColumn("content_sha", content_sha())
        .withColumn("name_norm", name_norm())
        .withColumn("tokens", tokenize())
    )


def with_token_hashes(records_norm: DataFrame) -> DataFrame:
    """Replace ``tokens`` with ``th``, their sorted xxhash64 fingerprints
    (functions.similarity.token_hashes): a token is its hash from here on.

    This column MUST be materialized (persisted / written by the normalize
    stage) before scoring: the expression is array_sort∘transform, which Spark
    evaluates interpreted (higher-order functions are not codegen-able), so
    computing it lazily inside the scoring query re-pays the interpreted eval
    on every execution AND serializes scoring behind the normalize scan's
    partitioning. Materialized once per record it is a cheap one-time pass.
    """
    from codingchallenge_spark.functions.similarity import token_hashes

    return records_norm.withColumn("th", token_hashes("tokens")).drop("tokens")


def partition_floor(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` up to the session's default parallelism when it
    has fewer partitions.

    A small input scans into few partitions, and every downstream stage
    that reads it inherits them — that would cap the whole job's
    parallelism below the cluster's. At production scale the input has far
    more splits than cores and this is a no-op.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    return df


def normalize_for_matching(records: DataFrame) -> DataFrame:
    """The matcher's normalize step, shared by every plan that resolves a
    whole corpus: partition floor → :func:`normalize_records` →
    :func:`with_token_hashes` → ``rid`` = unhex(rid), the one id column.

    Binary because every blocking/scoring/CC exchange keys on record ids,
    and a 32-byte binary halves that key's shuffle bytes vs the 64-char hex
    string — the dominant cost of the biggest intermediates (the exploded
    token relation and the candidate-pair stream) at 10^12-file scale.
    Exact: rid is lowercase sha256-hex BY CONSTRUCTION (:func:`record_id`),
    and fixed-width binary compares bytewise in the same order as its hex
    form — so least/greatest canonicalization, SN sort order, CC minima and
    the final min-label all pick identical records; lower(hex(·)) restores
    the exact string, only at emit (plans.matcher.emit_entities).
    """
    norm = with_token_hashes(normalize_records(partition_floor(records)))
    return norm.withColumn("rid", F.unhex("rid"))


def work_projection(norm: DataFrame) -> DataFrame:
    """The narrow relation blocking, scoring and CC read from a matching
    normalize: ``(rid, name_norm, th)``, ``rid`` binary."""
    return norm.select("rid", "name_norm", "th")
