x+y

This is
  not valid ruby
