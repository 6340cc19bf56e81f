"""Dictionary encode/decode as DataFrame joins.

The reference keeps the dictionary as a driver-side HashMap and probes it per
output cell inside a broadcast closure (PartitionQueryingSubject.java:63-70,
115, 136-151) — a hand-rolled broadcast hash join that cannot scale past
driver memory. Here the dictionary is a DataFrame and decode/encode are
joins; Catalyst broadcasts automatically under autoBroadcastJoinThreshold,
and we add an explicit ``F.broadcast`` hint when the caller asserts the
dictionary is small (J5).

Constant lookups for the SPARQL translator (a handful of terms per
query) and the decode of a row-capped result are answered on the
driver: term → id for ``lookup_terms``/``encode_terms``, and id → term
for ``decode_ids`` (the endpoint's one-document results). A dictionary
of at most ``_CACHE_MAX`` terms — the reference's HashMap, bounded —
is collected whole on the first lookup its maps cannot answer, so
every later key, present or absent, answers without a job, and an
update's new terms take their append bases from its ids. A larger
one keeps two bounded
caches instead: a lookup runs one filter job for the keys its cache
has not seen and answers the rest from the cache; a key the
dictionary lacks is cached as absent, and each cache starts over when
it would pass ``_CACHE_MAX`` entries. Neither can go stale because a
``Dictionary`` never changes once built: ``extend``,
``Engine.vacuum``, ``Engine.open`` and ``Engine.load_triples`` each
build a new one. An ``extend`` by driver rows (an update's new terms)
carries the maps or caches over with the new rows learned; every other
new dictionary starts empty.

Under the lexical term style the planner reads each term's STR value
from ``sv_df``. The raw-RDF ingest and LOAD hand it over persisted; a
dictionary opened from parquet derives it once per base, as a local
checkpoint that driver-row extensions share (they derive their own
rows only) and that ``release`` drops.

Id 0 is reserved: the translator's variable sentinel (MyOpVisitorBase.java:74-78).
``validate()`` enforces it plus id/term uniqueness at load time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# terms a Dictionary holds whole on the driver, and entries each lookup
# cache of a larger one may hold
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


def _carried(cache: dict, fresh: dict) -> dict:
    """``cache`` with the ``fresh`` entries learned, or an empty cache
    when both would pass the bound."""
    out = {**cache, **fresh}
    return out if len(out) <= _CACHE_MAX else {}


def _str_values(df: DataFrame) -> DataFrame:
    """``(id, term)`` rows with their STR value ``__sv``: the §17.4.2.5
    unquote/unescape chain the planner's lexical term attaches read."""
    from rdfproject_msc_spark.sparql.planner import _lex_str_value

    sv = _lex_str_value(F.col("id"), F.col("term"))
    return df.select("id", "term", sv.alias("__sv"))


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
        # ``extend`` with driver rows keeps them in ONE local relation
        # next to this base, so a chain of extensions stays two leaves;
        # the base's STR values are the given relation, or None until
        # ``sv_df`` derives them (then ``_own_sv``: ``release`` drops it)
        self._base, self._local = self.df, ()
        self._base_sv, self._own_sv = sv_df, False
        self._sv: DataFrame | None = None
        # term → id and id → term: the whole dictionary when ``_whole``,
        # else bounded caches (None = absent); ``_whole`` is None until
        # a lookup has tried to collect the dictionary
        self._ids: dict[str, int | None] = {}
        self._terms: dict[int, str | None] = {}
        self._whole: bool | None = None

    @property
    def sv_df(self) -> DataFrame:
        """The STR-value relation ``(id, term, __sv)`` the planner's
        lexical term attaches read instead of re-deriving it per
        solution row: the base's — given, or derived on first use and
        materialized once — plus the driver rows' own."""
        if self._sv is None:
            if self._base_sv is None:
                self._base_sv = _str_values(self._base).localCheckpoint(
                    eager=True
                )
                self._own_sv = True
            sv = self._base_sv
            if self._local:
                from rdfproject_msc_spark.store import local_relation

                extra = local_relation(
                    self.df.sparkSession, self._local, ["id", "term"]
                )
                sv = sv.unionAll(_str_values(extra))
            self._sv = sv
        return self._sv

    def release(self) -> None:
        """Drop the STR values this dictionary's base derived, if it did;
        relations planned over them can no longer run. The next
        ``sv_df`` derives them again."""
        if self._own_sv:
            rel = self._base_sv._jdf.queryExecution().analyzed()
            rel.rdd().unpersist(False)
            self._base_sv, self._own_sv, self._sv = None, False, None

    def extend(self, fresh) -> "Dictionary":
        """This dictionary plus new ``(id, term)`` rows: a list of tuples
        sized by a request (``rank_new_terms``), or a data-sized
        DataFrame. Driver rows share this base and its STR values, and
        carry the lookup maps over with the new rows learned (module
        doc). A DataFrame is a new base: a given STR-value relation
        extends by the new rows' ``__sv``, a derived one derives again,
        and the maps start empty."""
        from rdfproject_msc_spark.store import local_relation

        if isinstance(fresh, DataFrame):
            fresh = fresh.select("id", "term")
            given = None if self._own_sv else self._base_sv
            return Dictionary(
                self.df.unionAll(fresh),
                self.broadcast_hint,
                sv_df=None if given is None
                else self.sv_df.unionAll(_str_values(fresh)),
            )
        fresh = tuple(fresh)
        local = self._local + fresh
        extra = local_relation(self.df.sparkSession, local, ["id", "term"])
        out = Dictionary(self._base.unionAll(extra), self.broadcast_hint)
        out._base, out._local = self._base, local
        out._base_sv, out._own_sv = self._base_sv, self._own_sv
        ids = {t: i for i, t in fresh}
        terms = {i: t for i, t in fresh}
        if self._whole and len(self._ids) + len(ids) <= _CACHE_MAX:
            out._whole = True
            out._ids, out._terms = {**self._ids, **ids}, {**self._terms, **terms}
        else:  # a whole map grown past the bound empties: per-key caches
            out._whole = None if self._whole is None else False
            out._ids = _carried(self._ids, ids)
            out._terms = _carried(self._terms, terms)
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

    def _held(self, keys, cache: dict) -> bool:
        """Whether the whole dictionary is on the driver: it is collected
        on the first lookup ``cache`` cannot answer, when it has at most
        ``_CACHE_MAX`` terms."""
        if self._whole is None and any(k not in cache for k in keys):
            rows = self.df.limit(_CACHE_MAX + 1).collect()
            self._whole = len(rows) <= _CACHE_MAX
            if self._whole:
                self._ids = {r["term"]: r["id"] for r in rows}
                self._terms = {r["id"]: r["term"] for r in rows}
        return bool(self._whole)

    def held_ids(self):
        """Every id of the dictionary when a lookup has collected it whole
        onto the driver, else None."""
        return self._terms.keys() if self._whole else None

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        """Non-raising bounded lookup (term → id): terms absent from the
        dictionary are simply missing from the result. FILTER term-equality
        uses this — a literal no triple can contain constant-folds rather
        than erroring (the query is legal, its match set is empty)."""
        if not terms:
            return {}
        if self._held(terms, self._ids):
            return {t: self._ids[t] for t in terms if t in self._ids}

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
        if self._held(ids, self._terms):
            return {i: self._terms[i] for i in ids if i in self._terms}

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
