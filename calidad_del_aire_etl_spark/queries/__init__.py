"""Registered query modules, split out of registry.py by family
(round 10). Import ``registry``, not these modules directly: it imports
them all, so ``registry.queries()`` lists every registered query."""
