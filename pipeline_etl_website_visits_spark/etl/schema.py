"""Data model of the visits ETL (reference utils/utils_transform.py:10-61).

The input is a header-ful CSV ``report_*.txt`` with 15 fixed columns; cells
arrive as text and are validated before casting (SURVEY §1.2). Missing
expected columns are a hard layout failure; extra columns are tolerated
with a warning (utils/utils_transform.py:87-99).
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

# Expected input columns (reference utils/utils_transform.py:10-15).
VALID_COLUMNS = [
    "email",
    "jyv",
    "Badmail",
    "Baja",
    "Fecha envio",
    "Fecha open",
    "Opens",
    "Opens virales",
    "Fecha click",
    "Clicks",
    "Clicks virales",
    "Links",
    "IPs",
    "Navegadores",
    "Plataformas",
]

# Date-typed input columns (utils/utils_transform.py:18-23).
DATE_COLUMNS = ["Fecha envio", "Fecha open", "Fecha click"]

# Source→sink rename map (utils/utils_transform.py:26-42).
COLUMNS_TO_MAP = {
    "email": "email",
    "jyv": "jyv",
    "Badmail": "badMail",
    "Baja": "baja",
    "Fecha envio": "fechaEnvio",
    "Fecha open": "fechaOpen",
    "Opens": "opens",
    "Opens virales": "opensVirales",
    "Fecha click": "fechaClick",
    "Clicks": "clicks",
    "Clicks virales": "clicksVirales",
    "Links": "links",
    "IPs": "ips",
    "Navegadores": "navegadores",
    "Plataformas": "plataformas",
}

# Logical types after cast (utils/utils_transform.py:45-61), keyed by the
# *renamed* column (the reference iterates pre-rename names — defect D6; the
# intended semantics key on the renamed frame).
STR_COLUMNS = ["email", "jyv", "badMail", "baja", "links", "ips", "navegadores", "plataformas"]
TS_COLUMNS = ["fechaEnvio", "fechaOpen", "fechaClick"]
INT_COLUMNS = ["opens", "opensVirales", "clicks", "clicksVirales"]

# Raw read schema: everything string — validation needs the raw text
# (casting first would destroy the strict-format check, SURVEY §4.2 risk 4).
RAW_SCHEMA = StructType([StructField(c, StringType(), True) for c in VALID_COLUMNS])

# Email validity regex (utils/utils_transform.py:111).
EMAIL_PATTERN = (
    r"^[a-zA-Z0-9][a-zA-Z0-9._%+-]*@[a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?"
    r"(\.[a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?)*\.[a-zA-Z]{2,}$"
)

# Strict DD/MM/YYYY HH:mm 24h datetime regex (utils/utils_transform.py:120).
DATE_PATTERN = r"^(0[1-9]|[12][0-9]|3[01])/(0[1-9]|1[0-2])/\d{4}\s([01][0-9]|2[0-3]):[0-5][0-9]$"

# Timestamp parse format for the post-validation cast (P4).
DATE_FORMAT = "dd/MM/yyyy HH:mm"

# Error-type labels emitted by the error expansion, in emission order
# (utils/utils_transform.py:147-160).
ERROR_TYPES = ["Email", "Fecha envio", "Fecha open", "Fecha click"]

# bitacora status values (utils/utils_load.py:104 with D9 inversion fixed,
# plus README.md:112-127 failure states).
STATUS_OK = "Completado"
STATUS_OK_WITH_ERRORS = "Completado con errores"
STATUS_LAYOUT_FAIL = "FALLO_LAYOUT"
STATUS_SYSTEM_FAIL = "FALLO_SISTEMA"
# the completion markers: a file with one of these is not processed again
STATUS_DONE = (STATUS_OK, STATUS_OK_WITH_ERRORS, STATUS_LAYOUT_FAIL)
