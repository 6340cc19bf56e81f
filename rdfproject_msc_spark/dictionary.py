"""Dictionary encode/decode as DataFrame joins.

The reference keeps the dictionary as a driver-side HashMap and probes it per
output cell inside a broadcast closure (PartitionQueryingSubject.java:63-70,
115, 136-151) — a hand-rolled broadcast hash join that cannot scale past
driver memory. Here the dictionary is a DataFrame and decode/encode are
joins; Catalyst broadcasts automatically under autoBroadcastJoinThreshold,
and we add an explicit ``F.broadcast`` hint when the caller asserts the
dictionary is small (J5).

Constant lookups for the SPARQL translator (a handful of terms per query)
are a targeted ``filter(...).collect()`` — bounded by query size, never by
data size.

Each ``Dictionary`` keeps two driver-side caches over those lookups:
term → id for ``lookup_terms``/``encode_terms``, and id → term for
``decode_ids`` (the endpoint's one-document results). A lookup runs one
filter job for the keys its cache has not seen and answers the rest
from the cache; a key the dictionary lacks is cached as absent. Each
cache holds at most ``_CACHE_MAX`` entries and starts over when it
would pass that. The caches cannot go stale because a ``Dictionary``
never changes once built: ``extend``, ``Engine.vacuum``, ``Engine.open``
and ``Engine.load_triples`` each build a new one, with empty caches.

Id 0 is reserved: the translator's variable sentinel (MyOpVisitorBase.java:74-78).
``validate()`` enforces it plus id/term uniqueness at load time.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# entries each lookup cache of one Dictionary may hold
_CACHE_MAX = 65_536


def _cached_lookup(cache: dict, keys, fetch) -> dict:
    """The ``keys`` the dictionary holds → their values, running
    ``fetch`` only for the keys ``cache`` has not seen; a key ``fetch``
    does not find is cached as absent (None)."""
    out = {k: cache[k] for k in keys if k in cache}
    new = [k for k in dict.fromkeys(keys) if k not in out]
    if new:
        found = fetch(new)
        fresh = {k: found.get(k) for k in new}
        if len(cache) + len(fresh) > _CACHE_MAX:
            cache.clear()
        if len(fresh) <= _CACHE_MAX:
            cache.update(fresh)
        out.update(fresh)
    return {k: v for k, v in out.items() if v is not None}


class DictionaryError(ValueError):
    pass


class Dictionary:
    """A term dictionary ``(id: long, term: string)`` backed by a DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        broadcast_hint: bool = True,
        sv_df: DataFrame | None = None,
    ):
        self.df = df.select(
            F.col("id").cast("long").alias("id"), F.col("term").alias("term")
        )
        self.broadcast_hint = broadcast_hint
        # the STR-value relation as given (persisted by the raw-RDF
        # ingest), or None: ``sv_df`` then derives it from ``df``
        self._given_sv = sv_df
        # ``extend`` with driver rows keeps them in ONE local relation
        # next to this base, so a chain of extensions stays two leaves
        self._base, self._base_sv, self._local = self.df, sv_df, ()
        self._ids: dict[str, int | None] = {}
        self._terms: dict[int, str | None] = {}

    @cached_property
    def sv_df(self) -> DataFrame:
        """The STR-value relation ``(id, term, __sv)``: the §17.4.2.5
        unquote/unescape chain over every term, which the planner's
        lexical term attaches read instead of re-deriving it per
        solution row. The one given to the constructor when there is
        one; otherwise derived from ``df`` on first use and kept. The
        derived relation is not persisted: decode joins over a cached
        relation lose AQE's broadcast reuse."""
        if self._given_sv is not None:
            return self._given_sv
        from rdfproject_msc_spark.sparql.planner import _lex_str_value

        return self.df.select(
            "id",
            "term",
            _lex_str_value(F.col("id"), F.col("term")).alias("__sv"),
        )

    def extend(self, fresh) -> "Dictionary":
        """This dictionary plus new ``(id, term)`` rows: a list of tuples
        sized by a request (``rank_new_terms``), or a data-sized
        DataFrame. A given STR-value relation extends by the new rows'
        ``__sv`` — computed over the new rows alone (for driver rows, on
        the local relation); a derived one derives again over the
        extended ``df``."""
        from rdfproject_msc_spark.sparql.planner import _lex_str_value
        from rdfproject_msc_spark.store import local_relation

        def with_sv(df):
            return df.select(
                "id",
                "term",
                _lex_str_value(F.col("id"), F.col("term")).alias("__sv"),
            )

        if isinstance(fresh, DataFrame):
            sv = self._given_sv
            return Dictionary(
                self.df.unionAll(fresh.select("id", "term")),
                self.broadcast_hint,
                sv_df=None if sv is None else sv.unionAll(with_sv(fresh)),
            )
        local = self._local + tuple(fresh)
        extra = local_relation(self.df.sparkSession, local, ["id", "term"])
        sv = self._base_sv
        out = Dictionary(
            self._base.unionAll(extra),
            self.broadcast_hint,
            sv_df=None if sv is None else sv.unionAll(with_sv(extra)),
        )
        out._base, out._base_sv, out._local = self._base, sv, local
        return out

    def _dict_side(self) -> DataFrame:
        return F.broadcast(self.df) if self.broadcast_hint else self.df

    def validate(self) -> None:
        """One aggregation pass: no id 0, ids unique, terms unique."""
        row = self.df.agg(
            F.count("*").alias("n"),
            F.count_distinct("id").alias("n_ids"),
            F.count_distinct("term").alias("n_terms"),
            F.sum((F.col("id") == 0).cast("long")).alias("zeros"),
        ).first()
        if row["zeros"]:
            raise DictionaryError("dictionary contains reserved id 0 (variable sentinel)")
        if row["n_ids"] != row["n"]:
            raise DictionaryError("dictionary ids are not unique")
        if row["n_terms"] != row["n"]:
            raise DictionaryError("dictionary terms are not unique (term→id not functional)")

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        """Non-raising bounded lookup (term → id): terms absent from the
        dictionary are simply missing from the result. FILTER term-equality
        uses this — a literal no triple can contain constant-folds rather
        than erroring (the query is legal, its match set is empty)."""
        if not terms:
            return {}

        def fetch(new):
            rows = self.df.filter(F.col("term").isin(new)).collect()
            return {r["term"]: r["id"] for r in rows}

        return _cached_lookup(self._ids, terms, fetch)

    def decode_ids(self, ids) -> dict[int, str]:
        """Bounded driver-side decode (id → term) for the ids of a
        collected, row-capped result; ids absent from the dictionary
        (the 0 sentinel, raw integer literals) are missing from the
        result, as the decode join leaves them NULL."""
        if not ids:
            return {}

        def fetch(new):
            in_list = ", ".join(f"{int(i)}L" for i in new)
            rows = self.df.filter(F.expr(f"id IN ({in_list})")).collect()
            return {r["id"]: r["term"] for r in rows}

        return _cached_lookup(self._terms, ids, fetch)

    def encode_terms(self, terms: list[str]) -> dict[str, int]:
        """Bounded driver-side lookup for SPARQL constants (term → id).

        Replaces the reference's full reverse HashMap (MyOpVisitorBase.java:56-66)
        with a filter over the distributed dictionary — O(|terms|) result size.
        """
        if not terms:
            return {}
        found = self.lookup_terms(terms)
        missing = set(terms) - set(found)
        if missing:
            raise DictionaryError(f"terms not in dictionary: {sorted(missing)}")
        return found

    def decode(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        """Replace each id column with its term via per-column joins (J5).

        Column ``c`` becomes string column ``c`` (term); unmatched ids decode
        to NULL (left join), matching the reference's map.get() semantics.
        Non-integer columns (STR/LANG/aggregate BIND targets — already
        VALUES, not ids) pass through untouched: joining the dictionary on
        them would be a silent mis-decode (and an ANSI cast error first).
        """
        integral = {
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("long", "integer", "short", "byte")
        }
        columns = [c for c in (columns or df.columns) if c in integral]
        out = df
        for c in columns:
            d = self._dict_side().withColumnRenamed("id", f"__id_{c}").withColumnRenamed(
                "term", f"__term_{c}"
            )
            out = out.join(d, out[c] == d[f"__id_{c}"], "left")
            out = out.withColumn(c, F.col(f"__term_{c}")).drop(f"__id_{c}", f"__term_{c}")
        return out

    def encode(
        self,
        df: DataFrame,
        columns: list[str] | None = None,
        *,
        source_col: str | None = None,
        target_col: str | None = None,
    ) -> DataFrame:
        """Term → id via joins (inverse of decode).

        Two forms:
        - ``encode(df, columns=[...])`` replaces each named term column with
          its id in place;
        - ``encode(df, source_col="term", target_col="id")`` keeps the term
          column and ADDS the id as a new column (no placeholder-column
          tricks needed by callers that want both).
        Unmatched terms encode to NULL (left join) in both forms.
        """
        if source_col is not None or target_col is not None:
            if not (source_col and target_col):
                raise ValueError("source_col and target_col must be given together")
            if columns is not None:
                raise ValueError("columns and source_col/target_col are exclusive")
            d = (
                self._dict_side()
                .withColumnRenamed("term", "__enc_term")
                .withColumnRenamed("id", target_col)
            )
            return (
                df.join(d, df[source_col] == d["__enc_term"], "left")
                .drop("__enc_term")
            )
        columns = columns or df.columns
        out = df
        for c in columns:
            d = self._dict_side().withColumnRenamed("id", f"__id_{c}").withColumnRenamed(
                "term", f"__term_{c}"
            )
            out = out.join(d, out[c] == d[f"__term_{c}"], "left")
            out = out.withColumn(c, F.col(f"__id_{c}")).drop(f"__id_{c}", f"__term_{c}")
        return out
