"""Canonical schemas and domain constants.

The heart of the engine is the 22-column standard-charges table
(reference: ``HEADERS``, tall_format_csv_extractor.pyc:13-19, identical
in wide_format_csv_extractor.pyc:13-19). Internally we use snake_case
column names; ``CANONICAL_TO_REFERENCE`` maps back to the reference's
space-separated header names for byte-compatible CSV export.

Ingest is all-string by design (reference reads ``dtype=str``,
cleaning_utils.py:163); numeric typing happens exactly once in the
cleaning stage (functions/cleaning.py) with NULL-on-coercion-failure
semantics.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

# --- canonical standard-charges schema (snake_case) -------------------
# Order mirrors the reference HEADERS list one-for-one.
CANONICAL_COLUMNS: list[str] = [
    "hospital_name",
    "zip_code",
    "code",
    "code_type",
    "description",
    "drug_unit",
    "drug_type",
    "payer_name",
    "payer_id",
    "plan_name",
    "negotiated_price",
    "negotiated_percentage",
    "negotiated_algorithm",
    "negotiated_methodology",
    "gross_charge",
    "discounted_cash_price",
    "min_price",
    "max_price",
    "estimated_amount",
    "setting",
    "additional_notes",
    "modifiers",
]

REFERENCE_HEADERS: list[str] = [
    "hospital name",
    "zip code",
    "code",
    "code type",
    "description",
    "drug unit",
    "drug type",
    "insurance payer name",
    "insurance payer id",
    "insurance plan name",
    "negotiated price",
    "negotiated percentage",
    "negotiated algorithm",
    "negotiated methodology",
    "gross charge",
    "discounted cash price",
    "min price",
    "max price",
    "estimated amount",
    "setting",
    "additional notes",
    "modifiers",
]

CANONICAL_TO_REFERENCE: dict[str, str] = dict(zip(CANONICAL_COLUMNS, REFERENCE_HEADERS))

# --- semantic column groups (cleaning_utils.py:9-17) ------------------
PRICE_FIELDS: list[str] = [
    "negotiated_price",
    "negotiated_percentage",
    "gross_charge",
    "discounted_cash_price",
    "min_price",
    "max_price",
    "estimated_amount",
]

TEXT_FIELDS: list[str] = [
    "payer_name",
    "plan_name",
    "description",
    "setting",
    "negotiated_algorithm",
    "negotiated_methodology",
]

# Placeholder value the reference nulls out (cleaning_utils.py:93-95);
# `estimated_amount` is exempt from placeholder/<=0 nulling.
PRICE_PLACEHOLDER = 999_999_999
PRICE_NULL_EXEMPT: frozenset[str] = frozenset({"estimated_amount"})

# --- code-type domain (config.yaml:20-27) ------------------------------
ALLOWED_CODE_TYPES: list[str] = ["CPT", "HCPCS", "ICD", "DRG", "CDT", "NDC", "APC"]

# Raw → canonical code-type normalization map (config.yaml:29-37).
CODE_TYPE_NORMALIZATION: dict[str, str] = {
    "CPT": "CPT",
    "HCPCS": "HCPCS",
    "ICD": "ICD",
    "ICD-10": "ICD",
    "ICD-10-CM": "ICD",
    "ICD10": "ICD",
    "DRG": "DRG",
    "MS-DRG": "DRG",
    "MSDRG": "DRG",
    "APR-DRG": "DRG",
    "CDT": "CDT",
    "NDC": "NDC",
    "APC": "APC",
}

# Per-type code-format validation regexes (cleaning_utils.py:128-134).
# ICD is a length check (3..7) rather than a regex.
CODE_FORMAT_REGEX: dict[str, str] = {
    "CPT": r"^\d{5}$",
    "HCPCS": r"^\d{5}$|^[A-V]\d{4}$",
    "NDC": r"^\d{10,11}$",
    "DRG": r"^\d{3}$",
    "CDT": r"^D\d{4}$",
    "APC": r"^\d{4}$",
}
ICD_CODE_MIN_LEN = 3
ICD_CODE_MAX_LEN = 7

# Invalid free-text tokens scrubbed to '' (cleaning_utils.py:76-81).
# The reference regex ^(n/?a|not applicable)$ over lower(trim(x)) is an
# exact 3-token set — set membership instead of a regex keeps the
# 15-column scrub out of the regex engine entirely (hot-path cost).
INVALID_TOKENS: tuple[str, ...] = ("n/a", "na", "not applicable")

# Characters stripped from money strings before the numeric cast
# (cleaning_utils.py:19). Char-level translate, not regex.
PRICE_NOISE_CHARS = '$%",'

# Java/RE2 \s character class, for whitespace removal via translate.
WHITESPACE_CHARS = " \t\n\x0b\f\r"

# Numeric-only negotiated-algorithm text is a format violation
# (cleaning_utils.py:68-74).
ALGORITHM_INVALID_REGEX = r"^[0-9$%\s]+$"

# --- hospital registry dimension (hospital_enricher.py:174-179) --------
REGISTRY_COLUMNS: list[str] = [
    "hospital_name",
    "campus_id",
    "healthcare_system",
    "hospital_type",
    "city",
    "county",
    "metro_area",
    "state",
    "hospital_address",
    "zip_code",
    "telephone_num",
    "latitude",
    "longitude",
    "cms_rating",
    "leapfrog_grade",
    "leapfrog_grade_term",
    "leapfrog_grade_url",
    "last_updated_on",
    "version",
    "etl_status",
    "processed_by",
    "last_processed_on",
    "issues_encountered",
    "transparency_score",
    "raw_filename",
    "file_format",
    "structure",
    "download_url",
    "contact_num",
    "email_id",
]

REGISTRY_SCHEMA = StructType([StructField(c, StringType(), True) for c in REGISTRY_COLUMNS])

# campus_id slugify stopwords (hospital_enricher.py:42-45).
SLUG_STOPWORDS: list[str] = [
    "hospital",
    "medical",
    "center",
    "health",
    "healthcare",
    "clinic",
    "the",
    "of",
    "and",
]

# Driver-provided synthetic tables (TESTDATA.md).
TESTDATA_TABLES: list[str] = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
