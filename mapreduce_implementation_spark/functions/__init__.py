from .textfn import normalize_line, tokens, tokens_array

__all__ = ["normalize_line", "tokens", "tokens_array"]
