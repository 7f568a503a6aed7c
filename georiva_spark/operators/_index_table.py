"""Index parameter stamps — the one place that knows how a persistent
index's parameters are stored beside its data (the Spark form of
"collection = one table (+ metadata row)"): each parameter is a table
property ``georiva.<name>`` holding its value as a string. The
MinHash and Hamming families stamp ``{table}_bands``; the IVF/PQ
family stamps the main table and ``quantizer_version`` on each
sidecar; tombstone retracts stamp ``has_tombstones`` /
``has_doc_tombstones`` on the family's stamped table
(operators/_tombstones.py).

A call reads a table's stamps ONCE (:func:`props` — one catalog round
trip, no Spark job) and passes that dict on: to :func:`require` for
typed parameters, to :func:`check_quantizer_sync`, and to the
tombstone tripwire. A stamps dict is the table's properties as Spark
reports them, so a raw ``SHOW TBLPROPERTIES`` dict is one too.

Every compaction (MinHash, Hamming, IVF float and PQ, with or without
a retrain) ends through :func:`install`: stamp the staged table, swap
the staged tables in, clear the tombstone rules. That one function is
the list of a compaction's commit points.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException

_PREFIX = "georiva."


def key(name: str) -> str:
    """The table-property key a parameter is stored under."""
    return _PREFIX + name


def props(spark, table: str, missing_ok: bool = False) -> dict:
    """Read ``table``'s properties in one catalog round trip (a temp
    view has none). ``missing_ok``: a missing table reads as no stamps
    instead of raising."""
    try:
        return {r.key: r.value for r in
                spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    except AnalysisException:
        if missing_ok:
            return {}
        raise


def get(stamps: dict, name: str, default: str | None = None):
    """One stamped parameter as stored (a string), or ``default``."""
    return stamps.get(key(name), default)


def params(stamps: dict) -> dict:
    """Every stamped parameter by name — what a compaction re-stamps
    on its staged ``_compact`` table before the swap."""
    return {k[len(_PREFIX):]: v for k, v in stamps.items()
            if k.startswith(_PREFIX)}


def stamp(spark, table: str, values: dict) -> None:
    """Stamp ``values`` (parameter name -> value) on ``table`` in one
    statement."""
    kv = ", ".join(f"'{key(n)}'='{v}'" for n, v in values.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def unstamp(spark, table: str, names) -> None:
    """Remove the named stamps from ``table`` (absent ones are fine)."""
    keys = ", ".join(f"'{key(n)}'" for n in names)
    spark.sql(f"ALTER TABLE {table} UNSET TBLPROPERTIES "
              f"IF EXISTS ({keys})")


def require(stamps: dict, table: str, family: str, *names) -> list:
    """The named parameters as ints, or fail by name: a table without
    them is not a managed index of ``family``."""
    try:
        return [int(stamps[key(n)]) for n in names]
    except KeyError as e:
        raise ValueError(
            f"{table!r} is not a stamped {family} index "
            f"(missing property {e})") from None


def check_quantizer_sync(spark, table: str, stamps: dict,
                         sidecars: tuple[str, ...]) -> None:
    """Fail by name when the main index table (its already-read
    ``stamps``) and a quantizer sidecar carry DIFFERENT
    ``quantizer_version`` stamps — the crash window of a RETRAINING
    compaction (sidecars swap before the main table so every
    probeable state is either consistent or detectably skewed). A
    skew means routing would use centroids the stored cell assignment
    was not built with — silently wrong recall — so probes and
    appends refuse instead. Recovery: re-run the interrupted
    ``*_index_compact(retrain_iters=…)`` (it re-stages from the
    surviving main table / corpus) or finish the pending
    :func:`~georiva_spark.sources.bucketing.atomic_swap_table`.
    Unversioned tables (pre-r8 indexes) are exempt."""
    main = get(stamps, "quantizer_version")
    if main is None:
        return
    for sc in sidecars:
        v = get(props(spark, f"{table}{sc}"), "quantizer_version")
        if v is not None and v != main:
            raise ValueError(
                f"{table!r}: quantizer version skew — table is "
                f"v{main} but {table}{sc} is v{v}; a retraining "
                f"compaction was interrupted between the sidecar and "
                f"main swaps. Re-run the compact (it re-stages) or "
                f"finish the pending atomic swap.")


def install(spark, table: str, stamp_table: str, params: dict,
            swaps) -> None:
    """The end of every index compaction, in crash-safe order:

    1. stamp ``params`` (parameter name -> value) on the staged
       ``{stamp_table}_compact``, so every probeable state of the swap
       is param-valid;
    2. swap each staged ``{name}_compact`` in as ``name``
       (:func:`~georiva_spark.sources.bucketing.atomic_swap_table`),
       in the order of ``swaps`` — quantizer sidecars before the main
       table, so a crash between them is a version skew that fails by
       name (:func:`check_quantizer_sync`);
    3. clear index ``table``'s tombstone rules
       (:func:`~georiva_spark.operators._tombstones.clear_rules`),
       AFTER the purged tables are in: a crash before the clear leaves
       rules that match nothing, never dead rows live again."""
    from georiva_spark.operators._tombstones import clear_rules
    from georiva_spark.sources.bucketing import atomic_swap_table

    if params:
        stamp(spark, f"{stamp_table}_compact", params)
    for name in swaps:
        atomic_swap_table(spark, name)
    clear_rules(spark, table, stamp_table=stamp_table)
