"""Shared expression builders: ``exprs`` (``epoch_bin``), ``localrel``,
``text`` and ``vectors``."""
