"""Schema system: EDM-style type registry (inference) + compatibility /
evolution rules."""
