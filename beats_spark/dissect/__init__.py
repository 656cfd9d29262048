from .tokenizer import Dissector, DissectError, TokenizerError, convert_value
from .spark import apply_dissect, cast_for, FLAG_PARSING_ERROR

__all__ = [
    "Dissector", "DissectError", "TokenizerError", "convert_value",
    "apply_dissect", "cast_for", "FLAG_PARSING_ERROR",
]
