from .translate import TranslationResult, translate_tsql_expr

__all__ = ["TranslationResult", "translate_tsql_expr"]
