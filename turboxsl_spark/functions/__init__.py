from turboxsl_spark.functions.strings import (
    normalize_space,
    xpath_translate,
    xpath_substring,
    substring_before,
    substring_after,
    md5_hex,
    url_encode,
    str_escape_js,
    avt_template,
)
from turboxsl_spark.functions.numeric import (
    xpath_round,
    xpath_mod,
    xpath_number,
    xpath_boolean_str,
    xpath_number_to_string,
)

__all__ = [
    "normalize_space",
    "xpath_translate",
    "xpath_substring",
    "substring_before",
    "substring_after",
    "md5_hex",
    "url_encode",
    "str_escape_js",
    "avt_template",
    "xpath_round",
    "xpath_mod",
    "xpath_number",
    "xpath_boolean_str",
    "xpath_number_to_string",
]
