"""EPrints -> Hyku (Bulkrax) ETL facade: SURVEY.md §1.1, §2.1 X01-X05.

The reference repo declares exactly this purpose and contains no code
(SURVEY.md §0); this module is the domain pipeline rebuilt Spark-first:
nested, multi-valued, stringly-typed EPrints records flattened into
delimiter-joined Bulkrax CSV rows.

Key semantics (SURVEY §1.1):
- ORDER PRESERVATION of multi-valued fields: creator order is
  bibliographic meaning. Arrays keep their JSON/XML order, and every
  multi-valued column is built by higher-order functions over the
  record's own array, so no shuffle or aggregation ever reorders it.
  Subjects resolve in place: each code is looked up in the vocabulary
  map at its own position, and a code with several labels emits them in
  ascending label order.
- Referential integrity: unmapped subject codes are dropped from the
  output row AND surfaced in a separate anti-join report.
- Type coercion at the edge: EPrints dates arrive as '2019', '2019-05',
  or '2019-05-07' and are normalized to full ISO dates.

Scale posture: no shuffle on the records. The subject vocabulary is
folded into a one-row code -> labels map and broadcast onto them, so the
whole Bulkrax row is one narrow projection, written as Spark SQL text
the JVM parses in one call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPRINTS_SCHEMA = (
    "eprintid long, eprint_status string, type string, title string, "
    "abstract string, date string, ispublished string, "
    "creators array<struct<family:string,given:string,id:string>>, "
    "subjects array<string>, keywords string, official_url string, "
    "documents array<struct<main:string,format:string,filesize:long,security:string>>"
)

# EPrints item type -> Hyku resource_type controlled vocabulary
RESOURCE_TYPE_MAP = {
    "article": "Article",
    "book_section": "Book chapter",
    "monograph": "Monograph",
    "conference_item": "Conference proceeding",
    "thesis": "Thesis",
}

_VOCAB = "_subject_vocab"

# One Bulkrax row per eprint; the aliases are the CSV header, in order.
_BULKRAX_ROW = (
    # deterministic Bulkrax source_identifier (Q51 pattern)
    "md5(concat('eprints:', cast(eprintid AS string))) AS source_identifier",
    r"regexp_replace(trim(title), '\\s+', ' ') AS title",
    "array_join(transform(coalesce(creators, array()),"
    " c -> concat_ws(', ', c.family, c.given)), '|') AS creator",
    # filter(length > 0) after the trim (code-review r15, verified): real
    # EPrints keyword strings end with trailing semicolons or contain
    # ';;' — split() keeps the empty segments and array_join would emit
    # them as blank keyword terms ('k1|k2|'), polluting the Hyku facet.
    "array_join(filter(transform(split(coalesce(keywords, ''), ';'),"
    " t -> trim(t)), t -> length(t) > 0), '|') AS keyword",
    # a null code, or one the vocabulary lacks, looks up null -> no labels
    f"coalesce(array_join(flatten(transform(subjects,"
    f" c -> coalesce({_VOCAB}[c], array()))), '|'), '') AS subject",
    "CASE type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in RESOURCE_TYPE_MAP.items())
    + " ELSE 'Other' END AS resource_type",
    # '2019' -> '2019-01-01', '2019-05' -> '2019-05-01', full ISO kept
    "CASE length(trim(date)) WHEN 4 THEN concat(trim(date), '-01-01')"
    " WHEN 7 THEN concat(trim(date), '-01') ELSE trim(date) END AS date_created",
    "coalesce(abstract, '') AS abstract",
    "coalesce(official_url, '') AS official_url",
    # EXPLICIT null filter (code-review r15): array_join drops null
    # elements anyway, but silently — EPrints emits main=null for
    # placeholder/derived documents, and relying on the join's implicit
    # skip hid that files can vanish from the row. The filter makes the
    # semantics deliberate; null_main_documents() is the audit surface
    # for rows that lost files.
    "array_join(filter(transform(coalesce(documents, array()), d -> d.main),"
    " m -> m IS NOT NULL), '|') AS file",
)


def unmapped_subjects_report(eprints: DataFrame, subject_map: DataFrame) -> DataFrame:
    """Referential-integrity report: (eprintid, code) pairs whose subject
    code has no vocabulary entry — the Q13 anti-join pattern."""
    exploded = eprints.select(
        "eprintid", F.explode("subjects").alias("code")
    )
    return exploded.join(F.broadcast(subject_map), "code", "left_anti").select(
        "eprintid", "code"
    )


def null_main_documents(eprints: DataFrame) -> DataFrame:
    """Referential-integrity report (code-review r15, the
    unmapped-subjects pattern applied to files): (eprintid, position)
    pairs for documents whose ``main`` is null — the entries
    eprints_to_bulkrax's ``file`` column deliberately drops. EPrints
    emits main=null for placeholder/derived documents; at import time
    the operator decides whether those rows need manual attachment."""
    return eprints.select(
        "eprintid",
        F.posexplode(F.coalesce("documents", F.array())).alias("pos", "doc"),
    ).filter(F.col("doc")["main"].isNull()).select("eprintid", "pos")


def eprints_to_bulkrax(eprints: DataFrame, subject_map: DataFrame) -> DataFrame:
    """The flagship domain transform: one Bulkrax CSV row per eprint.

    ``subject_map`` (code, label) is folded into one row holding a
    code -> ascending-labels map, grouped by code so the fold stays
    linear in the vocabulary. The null-code group is left out of the
    map, as map keys cannot be null. The fold runs in one task: the map
    is broadcast whole, so it must fit one task anyway, and a single
    partition already satisfies both aggregations without an exchange.
    That row is broadcast onto the records, and each record's subjects
    resolve through it in array order.

    The steps are Spark SQL text, not Column trees built call by call:
    each py4j round trip costs on the order of a millisecond, and the
    transform is planned afresh for every import batch."""
    vocab = (
        subject_map.coalesce(1)
        .groupBy("code")
        .agg(F.expr("array_sort(collect_list(label)) AS labels"))
        .agg(
            F.expr(
                "map_from_entries(collect_list(struct(code, labels))"
                f" FILTER (WHERE code IS NOT NULL)) AS {_VOCAB}"
            )
        )
    )
    return eprints.crossJoin(vocab.hint("broadcast")).selectExpr(*_BULKRAX_ROW)
