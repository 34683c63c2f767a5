"""DuckDB-dialect SQL expression builders mirroring the cleaning stage.

These generate the oracle side of the driver's correctness gate from
the SAME constants the Spark implementation uses (schema.py), so the
two sides cannot drift independently. Dialect notes:

* DuckDB ``regexp_replace`` replaces the FIRST match unless the ``'g'``
  option is passed; Spark's replaces all — every mirror here passes 'g'.
* DuckDB ``regexp_matches`` is a substring search; anchored patterns
  reproduce Spark ``rlike`` with anchors.
* ``TRY_CAST(x AS DOUBLE)`` == Spark ``try_cast`` == pandas
  ``to_numeric(errors='coerce')``.
"""

from __future__ import annotations

from clearcare_data_pipeline_spark.schema import (
    CANONICAL_COLUMNS,
    CODE_FORMAT_REGEX,
    CODE_TYPE_NORMALIZATION,
    ICD_CODE_MAX_LEN,
    ICD_CODE_MIN_LEN,
    INVALID_TOKENS,
    PRICE_FIELDS,
    PRICE_NULL_EXEMPT,
    PRICE_PLACEHOLDER,
    TEXT_FIELDS,
)
from clearcare_data_pipeline_spark.queries._textsql import ALGORITHM_INVALID_RE2
from clearcare_data_pipeline_spark.sources.charges import charges_sql


def price_clean_sql(col: str, *, exempt: bool = False) -> str:
    num = f"TRY_CAST(trim(translate({col}, '$%\",', ''), ' ') AS DOUBLE)"
    if exempt:
        return num
    return (
        f"CASE WHEN {num} <= 0 THEN NULL "
        f"WHEN {num} = {PRICE_PLACEHOLDER} THEN NULL "
        f"ELSE {num} END"
    )


# whitespace-set trim mirroring functions/cleaning.wstrim
_WS_TRIM = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def _wstrim_sql(col: str) -> str:
    return f"trim({col}, {_WS_TRIM})"


def scrub_sql(col: str) -> str:
    toks = ", ".join(f"'{t}'" for t in INVALID_TOKENS)
    return f"CASE WHEN lower({_wstrim_sql(col)}) IN ({toks}) THEN '' ELSE {col} END"


def text_norm_sql(col: str) -> str:
    return f"CASE WHEN lower({_wstrim_sql(col)}) = 'nan' THEN '' ELSE lower({_wstrim_sql(col)}) END"


# '|' -> ',' and every \s-class char deleted (chr codes 9,10,11,12,13,32)
_WS_SQL = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def modifiers_norm_sql(col: str) -> str:
    return f"upper(translate({col}, '|' || {_WS_SQL}, ','))"


def code_type_norm_sql(col: str) -> str:
    whens = " ".join(f"WHEN '{raw}' THEN '{canon}'" for raw, canon in CODE_TYPE_NORMALIZATION.items())
    return f"CASE upper(trim({col}, ' ')) {whens} ELSE NULL END"


def algorithm_invalid_sql(col: str) -> str:
    # explicit Java-\s class (r12): the Spark side runs
    # schema.ALGORITHM_INVALID_REGEX through Java rlike, where \s
    # includes U+000B; RE2's \s does not — see queries/_textsql.py
    return f"coalesce(regexp_matches({col}, '{ALGORITHM_INVALID_RE2}'), FALSE)"


def code_format_valid_sql(code: str = "code", code_type: str = "code_type") -> str:
    per_type = [
        f"({code_type} = '{ctype}' AND regexp_matches({code}, '{regex}'))"
        for ctype, regex in CODE_FORMAT_REGEX.items()
    ]
    per_type.append(
        f"({code_type} = 'ICD' AND length({code}) BETWEEN {ICD_CODE_MIN_LEN} AND {ICD_CODE_MAX_LEN})"
    )
    return f"(({code} IS NULL OR trim({code}, ' ') = '') OR {' OR '.join(per_type)})"


def text_present_sql(col: str) -> str:
    return f"({col} IS NOT NULL AND trim({col}, ' ') <> '')"


def num_present_sql(col: str) -> str:
    return f"({col} IS NOT NULL)"


# Violation predicates — mirror of plans/rules.py (TRUE == violation).
def rule_predicates_sql() -> dict[str, str]:
    payer = text_present_sql("payer_name")
    plan = text_present_sql("plan_name")
    methodology = text_present_sql("negotiated_methodology")
    code = text_present_sql("code")
    code_type = text_present_sql("code_type")
    desc = text_present_sql("description")
    notes = text_present_sql("additional_notes")
    modifiers = text_present_sql("modifiers")
    drug_unit = text_present_sql("drug_unit")
    drug_type = text_present_sql("drug_type")
    algorithm = text_present_sql("negotiated_algorithm")
    neg_price = num_present_sql("negotiated_price")
    neg_pct = num_present_sql("negotiated_percentage")
    gross = num_present_sql("gross_charge")
    cash = num_present_sql("discounted_cash_price")
    min_p = num_present_sql("min_price")
    max_p = num_present_sql("max_price")
    est = num_present_sql("estimated_amount")
    any_price = "(" + " OR ".join(num_present_sql(p) for p in PRICE_FIELDS) + ")"
    return {
        "rule_1": f"(({neg_price} OR {neg_pct} OR {gross}) AND NOT ({payer} AND {plan} AND {methodology}))",
        "rule_2": f"({any_price} AND NOT ({code} AND {code_type}))",
        "rule_3": f"({code} <> {code_type})",
        "rule_4": f"((trim(negotiated_methodology, ' ') = 'other') AND NOT {notes})",
        "rule_5": f"({desc} AND NOT {gross} AND NOT {cash} AND NOT {neg_price} AND NOT {neg_pct} AND NOT {algorithm})",
        "rule_6": f"({neg_price} AND NOT ({min_p} AND {max_p}))",
        "rule_7": f"(NOT {neg_price} AND ({neg_pct} OR {algorithm}) AND NOT {est})",
        "rule_8": f"((trim(code_type, ' ') = 'NDC') AND NOT ({drug_unit} AND {drug_type}))",
        "rule_9": f"({modifiers} AND NOT {desc} AND NOT {neg_price} AND NOT {neg_pct} AND NOT {algorithm} AND NOT {notes})",
        "rule_10": f"({drug_unit} <> {drug_type})",
    }


def cleaned_charges_cte(lineitem_relation: str = "lineitem", *, dedup: bool = True) -> str:
    """Full DuckDB mirror of ``pipeline.clean_charges``: derivation ->
    code-type normalization -> price typing -> token scrub -> text &
    modifier normalization -> algorithm flag -> code-format filter ->
    global dedup. Returns a ``WITH``-clause body ending in relation
    ``cleaned`` (canonical columns + code_type_raw +
    negotiated_algorithm_invalid).

    When ``VERIFY_ORACLE_STAGE_DIR`` is set (the local gate's
    oracle-side stage cache — VERDICT r9 #2), the default
    (lineitem, dedup=True) form instead reads the pre-materialized
    parquet written by ``tools/materialize_oracle_stages.py``; see
    ``_stage_cte`` for the content-key guarantee. The driver's own
    harness never sets the env, so the self-contained SQL is what it
    always runs."""
    if dedup and lineitem_relation == "lineitem":
        cleaned = _stage_cte("cleaned_charges", cleaned_stage_sql, "cleaned")
        if cleaned is not None:
            # `flagged` rides along: two audit oracles
            # (charges_unknown_code_types, charges_code_type_mappings)
            # read the pre-validate stage by that name.
            flagged = _stage_cte("flagged_charges", flagged_stage_sql, "flagged")
            return f"{flagged},\n{cleaned}"
    return _cleaned_charges_cte_raw(lineitem_relation, dedup=dedup)


def _flagged_prefix(lineitem_relation: str = "lineitem") -> str:
    """The chain through ``flagged`` (derivation -> typing -> algorithm
    flag) — the pre-validate/pre-dedup stage two audit oracles read."""
    # code_type_raw FIRST: DuckDB/Spark lateral alias resolution binds
    # later select items to earlier aliases, and the normalized
    # `code_type` alias must not shadow the raw source column here.
    exprs: list[str] = ["code_type AS code_type_raw"]
    for c in CANONICAL_COLUMNS:
        if c in PRICE_FIELDS:
            exprs.append(f"{price_clean_sql(c, exempt=(c in PRICE_NULL_EXEMPT))} AS {c}")
        elif c in TEXT_FIELDS:
            exprs.append(f"{text_norm_sql(scrub_sql(c))} AS {c}")
        elif c == "modifiers":
            exprs.append(f"{modifiers_norm_sql(scrub_sql(c))} AS {c}")
        elif c == "code_type":
            exprs.append(f"{scrub_sql(code_type_norm_sql(c))} AS {c}")
        else:
            exprs.append(f"{scrub_sql(c)} AS {c}")
    select_list = ",\n    ".join(exprs)
    return f"""
charges AS (
{charges_sql(lineitem_relation)}
),
typed AS (
  SELECT
    {select_list}
  FROM charges
),
flagged AS (
  SELECT *, {algorithm_invalid_sql('negotiated_algorithm')} AS negotiated_algorithm_invalid
  FROM typed
)
""".strip()


def _cleaned_suffix(*, dedup: bool = True) -> str:
    """``filtered`` + ``cleaned`` CTEs, appended after any ``flagged``
    relation — the full chain, or the stage-cache parquet."""
    canon = ", ".join(CANONICAL_COLUMNS)
    # Dedup key = canonical columns ONLY (mirrors pipeline.clean_charges:
    # the reference normalizes code_type in place, so its full-row dedup
    # key is the canonical tuple); code_type_raw survives as the group
    # minimum — the same deterministic pick the Spark side makes.
    maybe_distinct = (
        f"SELECT {canon}, min(code_type_raw) AS code_type_raw FROM filtered GROUP BY {canon}"
        if dedup
        else f"SELECT {canon}, code_type_raw FROM filtered"
    )
    return f"""
filtered AS (
  SELECT * FROM flagged WHERE {code_format_valid_sql()}
),
cleaned AS (
  SELECT *, {algorithm_invalid_sql('negotiated_algorithm')} AS negotiated_algorithm_invalid
  FROM ({maybe_distinct})
)
""".strip()


def _cleaned_charges_cte_raw(lineitem_relation: str = "lineitem", *, dedup: bool = True) -> str:
    return f"{_flagged_prefix(lineitem_relation)},\n{_cleaned_suffix(dedup=dedup)}"


def _tagged_suffix() -> str:
    """The ``tagged`` CTE body alone (rule booleans + rules_violated),
    to be appended after a ``cleaned`` relation from any source —
    the full chain, or the stage-cache parquet."""
    preds = rule_predicates_sql()
    pred_cols = ",\n    ".join(f"{sql} AS {name}" for name, sql in preds.items())
    tags = ", ".join(f"CASE WHEN {name} THEN '{name}' END" for name in preds)
    return f"""
tagged AS (
  SELECT *, concat_ws(',', {tags}) AS rules_violated
  FROM (SELECT *,
    {pred_cols}
  FROM cleaned)
)
""".strip()


def tagged_charges_cte(lineitem_relation: str = "lineitem") -> str:
    """cleaned + rule_1..rule_10 booleans + rules_violated string.
    Stage-cached like ``cleaned_charges_cte`` when
    ``VERIFY_ORACLE_STAGE_DIR`` is set."""
    if lineitem_relation == "lineitem":
        cached = _stage_cte("tagged_charges", tagged_stage_sql, "tagged")
        if cached is not None:
            return cached
    return f"""
{cleaned_charges_cte(lineitem_relation)},
{_tagged_suffix()}
""".strip()


# --- oracle-side stage cache (VERDICT r9 #2) --------------------------
#
# The sf10 gate's wall cost is DuckDB-bound: every charges consumer
# re-derives the same 42.8M-row cleaned/tagged chain (~1,800 s each at
# sf10). The engine side has had a content-keyed cleaned-parquet stage
# cache since r6 (queries/charges.py); this mirrors it oracle-side.
# ``tools/materialize_oracle_stages.py`` runs each stage's CANONICAL
# self-contained SQL once per (stage, sf_dir) and writes
# ``<dir>/<name>-<key12>.parquet`` where key12 = md5 of that SQL text.
# With VERIFY_ORACLE_STAGE_DIR set, the CTE builders above splice in a
# read_parquet of exactly that keyed path instead of the chain, so:
#   * a CODE-stale cache (any constant/template edit changes the
#     canonical SQL, hence the key) surfaces as a MISSING-FILE error,
#     never a stale result;
#   * a DATA-stale cache (sf_dir parquet regenerated, or the env
#     pointed at another scale's cache) is caught by the SOURCE.json
#     marker (ADVICE r10 #1): the materializer records a fingerprint
#     of the source tables (realpath + per-table size + head digest),
#     and the gate harness (tools/verify_local.py) refuses to run when
#     the marker is absent or disagrees with the sf_dir under test.
#     The SQL key alone does NOT bind to the data — never export the
#     env against a cache whose marker check has not run;
#   * the driver's harness (env unset) always gets the self-contained
#     SQL — the cache is a local-gate optimization only.

ORACLE_STAGE_ENV = "VERIFY_ORACLE_STAGE_DIR"
STAGE_MARKER = "SOURCE.json"


def data_fingerprint(sf_dir: str) -> dict:
    """Fingerprint of the source tables a stage cache was built from:
    realpath of the sf_dir plus, per table, the parquet file's byte
    size and an md5 of its LAST 1 MiB. The tail, not the head: the
    parquet footer carries row-group metadata and per-column min/max
    stats, so any content change perturbs it, whereas two tables'
    leading pages can be byte-identical (observed: an ascending int64
    key column encodes the same first MiB in customer and documents).
    Cheap (stat + one bounded read per table); a byte-identical
    regeneration is by definition not stale."""
    import hashlib
    import os

    tables = {}
    for fn in sorted(os.listdir(sf_dir)):
        if not fn.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, fn)
        size = os.path.getsize(p)
        h = hashlib.md5()
        with open(p, "rb") as f:
            f.seek(max(0, size - (1 << 20)))
            h.update(f.read(1 << 20))
        tables[fn] = {"size": size, "tail_md5": h.hexdigest()}
    return {"sf_dir": os.path.realpath(sf_dir), "tables": tables}


def write_stage_marker(cache_dir: str, sf_dir: str) -> None:
    import json
    import os

    with open(os.path.join(cache_dir, STAGE_MARKER), "w") as f:
        json.dump(data_fingerprint(sf_dir), f, indent=1, sort_keys=True)


def check_stage_marker(cache_dir: str, sf_dir: str) -> None:
    """Hard-error unless ``cache_dir``'s SOURCE.json matches the
    CURRENT fingerprint of ``sf_dir``. Called by gate harnesses that
    know the sf_dir under test (the CTE builders themselves only see
    the env var, so enforcement lives at the verify entrypoints)."""
    import json
    import os

    marker = os.path.join(cache_dir, STAGE_MARKER)
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"{ORACLE_STAGE_ENV} points at {cache_dir} which has no "
            f"{STAGE_MARKER}; rebuild it with "
            "tools/materialize_oracle_stages.py (or --adopt-existing "
            "if you can vouch for its provenance)"
        )
    with open(marker) as f:
        recorded = json.load(f)
    current = data_fingerprint(sf_dir)
    if recorded != current:
        raise ValueError(
            f"oracle stage cache {cache_dir} was built from "
            f"{recorded['sf_dir']} but the gate is running against "
            f"{current['sf_dir']} whose tables do not match the "
            "recorded fingerprint (regenerated data or wrong-scale "
            "cache); rebuild the cache or unset "
            f"{ORACLE_STAGE_ENV}"
        )


def flagged_stage_sql() -> str:
    """Canonical self-contained SQL for the flagged-charges stage
    (pre-validate/pre-dedup)."""
    return f"WITH {_flagged_prefix('lineitem')} SELECT * FROM flagged"


def cleaned_stage_sql() -> str:
    """Canonical self-contained SQL for the cleaned-charges stage."""
    return f"WITH {_cleaned_charges_cte_raw('lineitem')} SELECT * FROM cleaned"


def tagged_stage_sql() -> str:
    """Canonical self-contained SQL for the tagged-charges stage."""
    return (
        f"WITH {_cleaned_charges_cte_raw('lineitem')},\n{_tagged_suffix()} "
        "SELECT * FROM tagged"
    )


def stage_path(stage_dir: str, name: str, canonical_sql: str) -> str:
    import hashlib
    import os

    key = hashlib.md5(canonical_sql.encode()).hexdigest()[:12]
    return os.path.join(stage_dir, f"{name}-{key}.parquet")


def _stage_cte(name: str, sql_fn, relation: str) -> str | None:
    """Parquet-backed single-CTE replacement for a cached stage, or
    None when the cache is disabled. A set env with a missing file is
    a hard error (stale/unbuilt cache must never silently fall back —
    the gate's runtime budget depends on the cache being in effect)."""
    import os

    stage_dir = os.environ.get(ORACLE_STAGE_ENV)
    if not stage_dir:
        return None
    path = stage_path(stage_dir, name, sql_fn())
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"{ORACLE_STAGE_ENV} is set but stage '{name}' is not built "
            f"for the current code (expected {path}); run "
            "tools/materialize_oracle_stages.py first"
        )
    return f"{relation} AS (SELECT * FROM read_parquet('{path}'))"


def materialize_ctes(sql: str) -> str:
    """Rewrite MULTIPLY-REFERENCED ``<name> AS (`` CTE openers to
    ``AS MATERIALIZED`` for the DuckDB side of the gate ONLY (Spark's
    parser has no MATERIALIZED hint, so the shared templates cannot
    carry it).

    Why (sf1 lesson): DuckDB inlines CTEs, so the charges chain — a
    6M-row derivation (whose ``proj`` is itself referenced twice by the
    planted-dup UNION ALL), 22 cleaning expressions, then a
    22-string-column GROUP BY dedup — re-ran inside every consumer
    concurrently and exhausted process memory (malloc ``bad
    allocation``) under the 48 GB harness cap. Materialized, each
    shared stage computes once.

    Why only multiply-referenced ones (sf10 lesson): a single-reference
    CTE is computed exactly once either way, but ``AS MATERIALIZED``
    forces its full intermediate to temp storage instead of pipelining
    — at sf10 the five linear stages of the charges chain are each
    42.8M rows x 22 columns, and blanket materialization filled the
    disk (``No space left on device`` in duckdb_temp_storage) where the
    pipelined form streams with bounded memory. Reference counting is
    word-occurrence over the SQL text minus the definition itself;
    a stray match (e.g. a string literal) only over-materializes,
    which is the prior behavior.

    Opener positions come from a real CTE-list walk, not a regex over
    the whole text (ADVICE r7 #2 closed the two holes the anchored
    regex still had): starting at each ``WITH`` keyword outside a
    string literal, the scanner reads ``name AS (``, skips the
    parenthesized body with a literal-aware depth counter (rule
    predicates carry regexes with parens inside quotes), and continues
    only across the commas SEPARATING CTE definitions. A named-window
    clause (``WINDOW w1 AS (...), w2 AS (...)``) is therefore
    unreachable — it follows the main SELECT, where the walk has
    already stopped — including the multi-window second entry the old
    comma anchor could corrupt. Reference counting is
    case-INSENSITIVE, matching SQL identifier semantics.

    Opaque spans cover single-quoted literals, double-quoted
    identifiers, and ``--`` line comments (ADVICE r8 #1: the old
    depth counter only knew single quotes, so an unbalanced paren
    inside a quoted identifier or a comment derailed the walk and
    every later CTE was silently left un-materialized — restoring
    exactly the sf10 re-execution/spill failure this function
    prevents). ``AS(`` without whitespace is accepted, and a walk
    that terminates on text that is neither a CTE opener nor a main
    statement warns loudly instead of degrading in silence."""
    import re
    import warnings

    n = len(sql)

    def skip_quoted(pos: int, q: str) -> int:
        # pos at the opening quote; returns index past the closing one
        # (doubled-quote escape handled for both ' and ")
        pos += 1
        while pos < n:
            if sql[pos] == q:
                if pos + 1 < n and sql[pos + 1] == q:
                    pos += 2
                    continue
                return pos + 1
            pos += 1
        return pos

    def opaque_end(pos: int) -> int:
        # end of the literal / quoted identifier / '--' comment
        # starting at pos, or -1 if pos starts none of them
        c = sql[pos]
        if c == "'" or c == '"':
            return skip_quoted(pos, c)
        if c == "-" and sql[pos : pos + 2] == "--":
            e = sql.find("\n", pos)
            return n if e < 0 else e + 1
        return -1

    def skip_body(pos: int) -> int:
        # pos at '('; returns index past the matching ')'
        depth = 0
        while pos < n:
            e = opaque_end(pos)
            if e >= 0:
                pos = e
                continue
            c = sql[pos]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return pos + 1
            pos += 1
        return pos

    def skip_ws(pos: int) -> int:
        # whitespace and line comments between CTE-list tokens
        while pos < n:
            if sql[pos].isspace():
                pos += 1
                continue
            if sql[pos : pos + 2] == "--":
                pos = opaque_end(pos)
                continue
            break
        return pos

    # opaque spans, so a WITH inside any of them never starts a walk
    spans = []
    i = 0
    while i < n:
        j = opaque_end(i)
        if j >= 0:
            spans.append((i, j))
            i = j
        else:
            i += 1

    def in_opaque(pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    name_as = re.compile(
        r"([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*(?:MATERIALIZED\s*)?(\()",
        re.IGNORECASE,
    )
    main_stmt = re.compile(
        r"(?:SELECT|FROM|INSERT|UPDATE|DELETE|VALUES|TABLE|\()", re.IGNORECASE
    )
    openers: list[tuple[int, str]] = []  # (index of '(', cte name)
    for m in re.finditer(r"\bWITH\b(?:\s+RECURSIVE\b)?", sql, re.IGNORECASE):
        if in_opaque(m.start()):
            continue
        pos = m.end()
        while True:
            pos = skip_ws(pos)
            nm = name_as.match(sql, pos)
            if not nm:
                # CTE list over — the main statement should be next;
                # anything else means the walk derailed, and silence
                # here would under-materialize every later CTE
                if not main_stmt.match(sql, pos):
                    warnings.warn(
                        "materialize_ctes: CTE-list walk terminated on "
                        f"unparseable text at offset {pos}: "
                        f"{sql[pos : pos + 60]!r} — later CTEs in this "
                        "WITH are left un-materialized",
                        stacklevel=2,
                    )
                break
            openers.append((nm.start(2), nm.group(1)))
            pos = skip_ws(skip_body(nm.start(2)))
            if not sql.startswith(",", pos):
                if not main_stmt.match(sql, pos):
                    warnings.warn(
                        "materialize_ctes: CTE-list walk terminated on "
                        f"unparseable text at offset {pos}: "
                        f"{sql[pos : pos + 60]!r} — later CTEs in this "
                        "WITH are left un-materialized",
                        stacklevel=2,
                    )
                break
            pos += 1

    # a WITH nested inside a CTE body yields openers out of document
    # order relative to the outer list — the splice needs them sorted
    openers = sorted(set(openers))

    def refs(name: str) -> int:
        # occurrences beyond the definition opener itself
        return len(re.findall(rf"\b{re.escape(name)}\b", sql, re.IGNORECASE)) - 1

    out = []
    prev = 0
    for paren_pos, name in openers:
        if refs(name) >= 2 and not re.search(
            r"MATERIALIZED\s*$", sql[prev:paren_pos], re.IGNORECASE
        ):
            out.append(sql[prev:paren_pos])
            # leading space only if the opener was 'AS(' with no gap
            if paren_pos > 0 and not sql[paren_pos - 1].isspace():
                out.append(" ")
            out.append("MATERIALIZED (")
            prev = paren_pos + 1
    out.append(sql[prev:])
    return "".join(out)
