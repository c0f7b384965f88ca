"""ParallelAtomicReader: one searchable view over separately-built
indexes that cover the SAME documents with DIFFERENT fields.

Reference: ``src/Lucene.Net/Index/ParallelAtomicReader.cs`` — an
AtomicReader whose field set is the union of several readers' fields,
with each field served by the reader that owns it; doc IDs must line up
1:1 across the parallel readers (the class doc's "it's up to you to make
sure the docIDs match" contract).

Spark shape: the index tables already carry a ``field`` tag, so the
parallel view is a pure unionByName of the postings / doclens /
term-stats tables — no shuffle, no re-inversion, and Catalyst prunes the
union branches a query's field predicate doesn't touch. The doc-ID
alignment contract maps to both indexes being built over the same id
column of the same corpus snapshot.
"""

from __future__ import annotations

from lucenenet_spark.index.builder import InvertedIndex

__all__ = ["parallel_reader"]


def parallel_reader(*indexes: InvertedIndex) -> InvertedIndex:
    """Union two or more single-corpus indexes into one multi-field view.

    Raises when maxDoc disagrees (doc spaces don't line up — the
    reference throws ArgumentException for mismatched maxDoc in its ctor)
    or when two indexes claim the same field name (the reference keeps the
    FIRST reader's field; here that silent shadowing would corrupt stats,
    so it is an error)."""
    if len(indexes) < 2:
        raise ValueError("parallel_reader needs >= 2 indexes")
    first = indexes[0]
    seen: set[str] = set()
    for ix in indexes:
        if ix.max_doc != first.max_doc:
            raise ValueError(
                f"maxDoc mismatch: {ix.max_doc} != {first.max_doc} "
                "(ParallelAtomicReader requires aligned doc spaces)"
            )
        dup = seen & set(ix.fields)
        if dup:
            raise ValueError(f"duplicate parallel fields: {sorted(dup)}")
        seen |= set(ix.fields)

    postings = indexes[0].postings
    doclens = indexes[0].doclens
    term_stats = indexes[0].term_stats
    for ix in indexes[1:]:
        postings = postings.unionByName(ix.postings)
        doclens = doclens.unionByName(ix.doclens)
        term_stats = term_stats.unionByName(ix.term_stats)

    sttf: dict[str, int] = {}
    analyzers = {}
    fields: list[str] = []
    for ix in indexes:
        for fld in ix.fields:
            fields.append(fld)
            sttf[fld] = ix._sttf(fld)
            analyzers[fld] = ix.analyzer_for(fld)

    return InvertedIndex(
        postings=postings,
        doclens=doclens,
        term_stats=term_stats,
        max_doc=first.max_doc,
        sum_ttf_by_field=sttf,
        analyzer=first.analyzer,
        fields=tuple(fields),
        analyzers=analyzers,
    )
