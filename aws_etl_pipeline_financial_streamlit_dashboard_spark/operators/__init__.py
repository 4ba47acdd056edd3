"""Composable DataFrame operators; import the module you use."""
