"""SQL-text twins of functions/scalars.py and functions/nested.py.

WHY THIS EXISTS (r12 optimization, guide §1.2 per-task work — here
per-QUERY driver work): building the six entity expression trees
through the Column API costs hundreds of py4j round-trips per pipeline
(~3-4 s of driver time per entity_org_payload_json call at sf0.1,
measured in r11 — the #1 headline line for three rounds). These
builders assemble the SAME expressions as Python strings (zero py4j
work) and hand them to ONE ``selectExpr``/``F.expr`` call, where the
JVM parses them in microseconds.

EQUIVALENCE CONTRACT: every builder here mirrors its scalars.py /
nested.py twin 1:1 — the SQL text parses to the identical Catalyst
expression (CASE WHEN <-> F.when, COALESCE <-> F.coalesce,
named_struct <-> F.struct(alias...), map_filter lambda <-> HOF), so
results are bit-identical. Certified by the entity goldens
(tests/test_entities.py), the entity oracle rows at sf0.001 + sf0.01
(tests/test_oracle_parity*), and the entity_*_json roundtrip
contracts. Any new builder must keep its twin's docstring reference.
"""

from __future__ import annotations

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"


def sql_string(value) -> str:
    """`value` as a single-quoted SQL string literal: backslashes and
    quotes escaped, so no value can end the literal early."""
    s = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


# single-quoted: a double-quoted literal is an identifier under
# spark.sql.ansi.doubleQuotedIdentifiers
_ISO_SQL = sql_string(ISO_FMT)

_FALSY_IN = "('', '0', '0.0', 'false', 'False')"


# -- nested.py twins ------------------------------------------------------
def falsy_to_null(col: str) -> str:
    """nested.falsy_to_null: falsy (NULL/0/0.0/''/false) -> NULL,
    original type preserved."""
    s = f"CAST(({col}) AS STRING)"
    return (f"CASE WHEN {s} IS NOT NULL AND NOT {s} IN {_FALSY_IN} "
            f"THEN ({col}) END")


def phone_array(number: str, name: str = "business") -> str:
    """nested.phone_array: [{name, number, default:true}] when number
    present, else NULL."""
    return (f"CASE WHEN ({number}) IS NOT NULL THEN "
            f"array(named_struct('name', '{name}', 'number', ({number}), "
            f"'default', TRUE)) END")


def named_struct(*pairs: tuple[str, str]) -> str:
    """F.struct(expr.alias(name), ...) as named_struct text."""
    inner = ", ".join(f"'{n}', {e}" for n, e in pairs)
    return f"named_struct({inner})"


# -- common.py twins ------------------------------------------------------
def iso(col: str) -> str:
    """common.iso / scalars.json_serial: timestamp -> ISO-8601 string."""
    return f"date_format({col}, {_ISO_SQL})"


def image_url(kind: str, id_col: str, file_col: str,
              debug: bool = False) -> str:
    """common.image_url: S3 URL build, NULL file -> NULL."""
    env = "development" if debug else "production"
    size = "large" if kind == "menu_items/images" else "original"
    fmt = (f"https://wm-mmjmenu-images-%s.s3.amazonaws.com/%s/%s/{size}/%s")
    return (f"CASE WHEN ({file_col}) IS NOT NULL THEN "
            f"format_string('{fmt}', '{env}', '{kind}', "
            f"CAST(({id_col}) AS STRING), ({file_col})) END")


# -- scalars.py twins -----------------------------------------------------
def true_or_false(col: str) -> str:
    """scalars.true_or_false (C1)."""
    return f"COALESCE(({col}) = 1, FALSE)"


def account_status_inverted(col: str) -> str:
    """scalars.account_status_inverted (C2)."""
    return (f"CASE WHEN ({col}) = 1 THEN 'INACTIVE' "
            f"WHEN ({col}) = 0 THEN 'ACTIVE' END")


def create_epoch(col: str) -> str:
    """scalars.create_epoch (C3): datetime -> epoch seconds."""
    return f"unix_timestamp({col})"


def dollars_to_cents(col: str) -> str:
    """scalars.dollars_to_cents (C4): trunc-toward-zero of d*100."""
    d = f"(CAST(({col}) AS DOUBLE) * 100)"
    return (f"CAST(CASE WHEN {d} >= 0 THEN FLOOR({d}) "
            f"ELSE -FLOOR(-{d}) END AS BIGINT)")


def set_name(first: str, last: str, login: str) -> str:
    """scalars.set_name (C6): both NULL -> login; else 'None'-filled
    concat."""
    return (f"CASE WHEN ({first}) IS NULL AND ({last}) IS NULL "
            f"THEN ({login}) ELSE concat_ws(' ', "
            f"COALESCE(({first}), 'None'), COALESCE(({last}), 'None')) "
            f"END")


def deterministic_email(id_col: str, domain: str = "example.org") -> str:
    """scalars.deterministic_email (C7)."""
    return (f"concat(substring(sha2(CAST(({id_col}) AS STRING), 256), "
            f"1, 12), '@{domain}')")


def member_type(license_type: str) -> str:
    """scalars.member_type (C8)."""
    return (f"CASE WHEN ({license_type}) = 1 THEN 'MEDICAL' "
            f"ELSE 'RECREATIONAL' END")


def assign_role(access: str) -> str:
    """scalars.assign_role (C9)."""
    return (f"CASE WHEN ({access}) IN (1, 2) THEN 'site-admin' "
            f"WHEN ({access}) = 3 THEN 'store-manager' "
            f"ELSE 'budtender' END")


def employee_active_status(active: str) -> str:
    """scalars.employee_active_status (C10)."""
    return (f"CASE WHEN ({active}) = 1 THEN 'ACTIVE' "
            f"WHEN ({active}) IS NULL THEN 'INACTIVE' END")


def menu_item_active(on_hold: str) -> str:
    """scalars.menu_item_active (C11)."""
    return f"COALESCE(({on_hold}) = 1, FALSE)"


def map_uom(measurement: str) -> str:
    """scalars.map_uom (C12)."""
    return f"CASE WHEN ({measurement}) = 1 THEN 2 ELSE 1 END"


_SINGULARIZE = {"Seeds": "Seed", "Drinks": "Drink", "Edibles": "Edible"}
_CAT_MAP = ("Indica", "Sativa", "Hybrid", "Edible", "Concentrate", "Drink",
            "Clone", "Seed", "Tinctures", "Gear", "Topicals", "Preroll",
            "Wax", "Hash")


def map_categories(name: str, sativa: str, indica: str) -> str:
    """scalars.map_categories (C13) — the exact decision chain; the
    nested 'sing' CASE mirrors the Column twin's when().otherwise()
    fold (innermost = NULL literal, built outward)."""
    nl = f"lower({name})"
    s_pos = f"COALESCE(({sativa}) > 0, FALSE)"
    i_pos = f"COALESCE(({indica}) > 0, FALSE)"
    both = f"({s_pos} AND {i_pos})"
    sing = "CAST(NULL AS STRING)"
    for k, v in _SINGULARIZE.items():
        sing = f"CASE WHEN ({name}) = '{k}' THEN '{v}' ELSE {sing} END"
    in_sing = ", ".join(f"'{k}'" for k in _SINGULARIZE)
    in_cat = ", ".join(f"'{c}'" for c in _CAT_MAP)
    return (
        f"CASE WHEN {nl} = 'cannabis' AND {both} "
        f"AND COALESCE(({sativa}) > 80, FALSE) THEN 'Sativa' "
        f"WHEN {nl} = 'cannabis' AND {both} "
        f"AND COALESCE(({indica}) > 80, FALSE) THEN 'Indica' "
        f"WHEN {nl} = 'cannabis' AND NOT {both} THEN 'Hybrid' "
        f"WHEN {nl} = 'paraphernalia' THEN 'Gear' "
        f"WHEN {nl} = 'tincture' THEN 'Tinctures' "
        f"WHEN {nl} = 'prerolled' THEN 'Preroll' "
        f"WHEN ({name}) IN ({in_sing}) THEN {sing} "
        f"WHEN NOT ({name}) IN ({in_cat}) THEN 'Other' "
        f"ELSE ({name}) END")


DR_PREFIX_RE = r"(?i)^(Dr(?:.)?s|(?:Dr.?))"


def strip_dr_prefix(name: str) -> str:
    """scalars.strip_dr_prefix (C14)."""
    return f"trim(regexp_replace({name}, '{DR_PREFIX_RE}', ''))"


def dob_default(dob: str) -> str:
    """scalars.dob_default (C16)."""
    return (f"COALESCE(({dob}), "
            f"CAST('1970-01-01 00:00:00' AS TIMESTAMP))")


def employee_const_dob() -> str:
    """scalars.employee_const_dob (C17)."""
    return "CAST('1970-01-01 02:30:00' AS TIMESTAMP)"


def net_marijuana(uom: str, medicine_amount: str) -> str:
    """scalars.net_marijuana (C18)."""
    return (f"CASE WHEN ({uom}) = 2 "
            f"THEN CAST(({medicine_amount}) AS BIGINT) END")


def tax_percent(amount: str) -> str:
    """scalars.tax_percent (C19)."""
    return f"(CAST(({amount}) AS DOUBLE) / 100)"


def monthly_purchase_limit(two_week: str) -> str:
    """scalars.monthly_purchase_limit (C20)."""
    return f"CAST((({two_week}) * 2) AS BIGINT)"


def expiry_date_copy(card_expires_at: str) -> str:
    """scalars.expiry_date_copy (C21)."""
    return (f"CASE WHEN ({card_expires_at}) IS NOT NULL "
            f"THEN ({card_expires_at}) END")


def identification_type() -> str:
    """scalars.identification_type (C22)."""
    return "'Drivers License'"


def physician_specialty() -> str:
    """scalars.physician_specialty (C23)."""
    return "'General'"


def vendor_account_status(confirmed: str) -> str:
    """scalars.vendor_account_status (C24)."""
    return (f"CASE WHEN ({confirmed}) = 1 THEN 'ACTIVE' "
            f"ELSE 'INACTIVE' END")


def organization_id_lit(organization_id) -> str:
    """scalars.organization_id_lit (C25); the id is request-supplied, so
    it is escaped."""
    return sql_string(organization_id)


def account_status_notes(locked_visits_reason: str) -> str:
    """scalars.account_status_notes (C26)."""
    return f"({locked_visits_reason})"
